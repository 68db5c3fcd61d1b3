"""Engine-level operator tests (FIXTURES.md F4): LOCF gap-fill, agg-state
merge associativity, salt invariance, incremental re-aggregation, and the
text-preserving lineage guarantees cesium itself never needed."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.datagen import generate_transcripts
from cesium_spark.operators.aggstate import finalize_states, merge_states, partial_states
from cesium_spark.operators.incremental import incremental_rollup
from cesium_spark.operators.locf import locf_grid
from cesium_spark.operators.rollup import rollup_kernel
from cesium_spark.operators.salt import skew_resistant_features


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, n_convs=24, seed=9, max_turns=3000).cache()
    df.count()
    return df


def _gap_conv(spark):
    """One conversation with turns only in hours {0,1,5,9} (gap_grid)."""
    rows = []
    for h, k in [(0, 3), (1, 2), (5, 1), (9, 2)]:
        for i in range(k):
            rows.append((
                "g", len(rows), "user", f"t{h}-{i}" * (h + 1), "",
                pd.Timestamp("2025-03-01") + pd.Timedelta(hours=h, minutes=i),
            ))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return spark.createDataFrame(pdf)


def test_locf_dense_grid_and_fill_flags(spark):
    out = locf_grid(_gap_conv(spark), "1h").toPandas().sort_values("grid_ts")
    assert len(out) == 10  # hours 0..9 dense
    filled = out.set_index(out["grid_ts"].dt.hour)["filled"]
    assert not filled[0] and not filled[1] and not filled[5] and not filled[9]
    assert filled[2] and filled[3] and filled[4] and filled[6] and filled[7] and filled[8]
    vals = out.set_index(out["grid_ts"].dt.hour)["locf_value"]
    # carried value = last observation of the most recent non-empty window
    assert vals[2] == vals[1] and vals[6] == vals[5]
    assert (~out["locf_value"].isna()).all()


def test_agg_state_merge_equals_recompute(spark, transcripts):
    """merge(state(A), state(B)) == state(A ∪ B) (random split)."""
    a = transcripts.filter(F.crc32(F.concat_ws("|", "conv_id", "turn_idx")) % 2 == 0)
    b = transcripts.subtract(a)
    sa = partial_states(a, None)
    sb = partial_states(b, None)
    merged = finalize_states(
        merge_states(sa.unionByName(sb), ["conv_id"]), ["conv_id"]
    ).toPandas().sort_values("conv_id").reset_index(drop=True)
    direct = finalize_states(partial_states(transcripts, None), ["conv_id"]) \
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, direct, rtol=1e-9, atol=1e-12)


def test_salt_count_invariance(spark, transcripts):
    outs = []
    for buckets in (1, 4, 16):
        out = skew_resistant_features(transcripts, salt_buckets=buckets) \
            .toPandas().sort_values("conv_id").reset_index(drop=True)
        outs.append(out)
    pd.testing.assert_frame_equal(outs[0], outs[1], rtol=1e-9, atol=1e-12)
    pd.testing.assert_frame_equal(outs[0], outs[2], rtol=1e-9, atol=1e-12)


def test_salted_features_match_kernel(spark, transcripts):
    feats = ["n_epochs", "mean", "minimum", "maximum", "amplitude", "std",
             "total_time", "avgt", "weighted_average"]
    kern = rollup_kernel(transcripts, feats, "1 hour") \
        .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    salted = skew_resistant_features(transcripts, salt_buckets=8, tier="1h") \
        .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    for f in feats:
        np.testing.assert_allclose(
            kern[f], salted[f], rtol=1e-9, atol=1e-12, err_msg=f
        )


def test_incremental_mergeable_equals_full(spark, transcripts):
    """Late arrivals: state(base) ⊕ batch == state(base ∪ batch)."""
    base = transcripts.filter(F.col("turn_idx") % 7 != 0)
    late = transcripts.subtract(base)  # rows landing inside rolled windows
    keys = ["conv_id", "window_start"]
    states = partial_states(base, "1h").unionByName(partial_states(late, "1h"))
    merged = finalize_states(merge_states(states, keys), keys) \
        .toPandas().sort_values(keys).reset_index(drop=True)
    full = finalize_states(partial_states(transcripts, "1h"), keys) \
        .toPandas().sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, full, rtol=1e-9, atol=1e-12)


def test_incremental_nonmergeable_equals_full(spark, transcripts):
    """Dirty-window recompute: untouched ∪ recomputed == full recompute,
    for non-mergeable features (median/MAD/stetson)."""
    feats = ["n_epochs", "median", "median_absolute_deviation", "stetson_k"]
    base = transcripts.filter(F.col("turn_idx") % 5 != 0)
    late = transcripts.subtract(base)
    old = rollup_kernel(base, feats, "1h")
    got = incremental_rollup(old, transcripts, late, feats, "1h") \
        .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    full = rollup_kernel(transcripts, feats, "1h") \
        .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, full)


def test_lineage_log_roundtrip(tmp_path):
    from cesium_spark.streaming.checkpoint import LineageLog

    log = LineageLog(str(tmp_path / "lineage"))
    assert not log.is_committed("tier-1h", input_rows=100)
    log.commit("tier-1h", input_rows=100, metrics={"windows_out": 5})
    assert log.is_committed("tier-1h", input_rows=100)
    assert not log.is_committed("tier-1h", input_rows=101)  # input changed
    assert log.read("tier-1h")["metrics"]["windows_out"] == 5
    assert log.units() == ["tier-1h"]


def test_salted_repartition_balances_hot_conversation(spark):
    """F4 skew_table: one hot conversation (50k turns) + 100 small ones.
    Unsalted repartition pins the hot conv to one partition; salted
    spreads it so no partition exceeds 4x the median."""
    import pandas as pd
    from cesium_spark.operators.salt import salted_repartition

    hot_n = 50_000
    hot = pd.DataFrame({
        "conv_id": "hot", "turn_idx": np.arange(hot_n, dtype=np.int32),
        "role": "user", "text": "x", "tool": "",
        "ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(hot_n), "s"),
    })
    small = pd.concat([
        pd.DataFrame({
            "conv_id": f"c{i}", "turn_idx": np.arange(100, dtype=np.int32),
            "role": "user", "text": "y", "tool": "",
            "ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(100), "s"),
        }) for i in range(100)
    ])
    df = spark.createDataFrame(pd.concat([hot, small], ignore_index=True))

    unsalted = df.repartition(8, "conv_id") \
        .groupBy(F.spark_partition_id().alias("pid")).count().toPandas()
    salted = salted_repartition(df, salt_buckets=8, num_partitions=8) \
        .groupBy(F.spark_partition_id().alias("pid")).count().toPandas()

    # hot conv dominates a single partition without salting...
    assert unsalted["count"].max() >= hot_n
    # ...and spreads with salting: straggler bound from FIXTURES.md F4
    med = salted["count"].median()
    assert salted["count"].max() <= 4 * med, (salted.to_dict(), med)


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF ANN: probing n_probe of n_lists recovers most exact top-3
    neighbors; full probe degenerates to exact."""
    from cesium_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    rng = np.random.RandomState(4)
    vecs = rng.normal(size=(400, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(400), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>").cache()
    queries = emb.filter(F.col("vec_id") < 15)

    exact = cosine_topk_bruteforce(emb, queries, k=3).toPandas()
    approx = ivf_topk(emb, queries, k=3, n_lists=8, n_probe=3, seed=1).toPandas()
    key = lambda d: set(zip(d.query_id, d.neighbor_id))
    recall = len(key(exact) & key(approx)) / len(key(exact))
    assert recall >= 0.6, recall

    full = ivf_topk(emb, queries, k=3, n_lists=8, n_probe=8, seed=1).toPandas()
    assert key(full) == key(exact)


def test_run_rollup_units_and_resume(spark, transcripts, tmp_path):
    """Per-(tier, day-bucket) unit commits: resume skips committed units;
    a crashed unit (deleted lineage entry) is recomputed and the final
    output equals a fresh full run."""
    import os
    from cesium_spark.jobs import run_rollup

    inp = str(tmp_path / "in")
    transcripts.write.mode("overwrite").parquet(inp)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")

    feats = ["n_epochs", "mean", "median"]
    r1 = run_rollup(spark, inp, out1, tiers=("1h",), features=feats,
                    bucket_days=3, verbose=False)
    assert all(not u["skipped"] for u in r1)
    assert len(r1) >= 2  # multiple day buckets

    # simulate crash: forget one unit's commit, then resume
    victim = r1[0]["unit"]
    os.remove(os.path.join(out1, "_lineage", f"{victim}.json"))
    r2 = run_rollup(spark, inp, out1, tiers=("1h",), features=feats,
                    bucket_days=3, resume=True, verbose=False)
    assert sum(not u["skipped"] for u in r2) == 1  # only the victim reran
    assert sum(u["skipped"] for u in r2) == len(r1) - 1

    # equality with a fresh full run
    run_rollup(spark, inp, out2, tiers=("1h",), features=feats,
               bucket_days=3, verbose=False)
    a = spark.read.parquet(f"{out1}/tier=1h").toPandas() \
        .sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    b = spark.read.parquet(f"{out2}/tier=1h").toPandas() \
        .sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def _sorted_pdf(sdf):
    return sdf.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_run_rollup_one_pass_equals_per_tier_kernel(spark, tmp_path, ts_type):
    """The one-pass bucket rollup writes, for every tier, the reference
    kernel's values per window: `compute_features` over the rows of each
    (conv_id, pandas-floored tier window) in (t, turn_idx) order, bit for
    bit, a feature outside the segmented fast path included, for
    TIMESTAMP and TIMESTAMP_NTZ event times. A row with NULL ts lands in
    no window."""
    from pyspark.sql.types import DoubleType

    from cesium_spark.features.fastpath import FAST_FEATS
    from cesium_spark.features.registry import compute_features
    from cesium_spark.jobs import run_rollup
    from cesium_spark.kernel import SECONDS_PER_DAY

    feats = ["n_epochs", "mean", "median", "stetson_j", "anderson_darling"]
    assert "anderson_darling" not in FAST_FEATS
    tiers = {"1m": "min", "1h": "h", "1d": "D", "15 minutes": "15min"}
    df = generate_transcripts(spark, n_convs=8, seed=5, max_turns=400)
    no_ts = df.limit(1).withColumn("ts", F.lit(None).cast("timestamp")) \
        .withColumn("turn_idx", F.lit(10**6))
    df = df.unionByName(no_ts).withColumn("ts", F.col("ts").cast(ts_type))
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    df.write.parquet(inp)
    units = run_rollup(spark, inp, out, tiers=tuple(tiers), features=feats,
                       bucket_days=3, verbose=False)
    assert len({u["unit"] for u in units}) == len(units) > len(tiers)

    src = spark.read.parquet(inp)
    local = src.toPandas()
    assert local["ts"].isna().sum() == 1
    local = local[local["ts"].notna()]

    def reference(g):
        g = g.sort_values(["ts", "turn_idx"], kind="stable")
        us = (g["ts"] - pd.Timestamp(0)).to_numpy().astype("timedelta64[us]").astype(np.int64)
        t = us.astype(np.float64) / (SECONDS_PER_DAY * 1e6)
        m = g["text"].str.len().to_numpy(dtype=np.float64)
        return compute_features(t, m, np.full(len(g), 1e-4), feats)

    for tier, freq in tiers.items():
        got = spark.read.parquet(f"{out}/tier={tier}").drop("bucket")
        assert [(f.name, f.dataType) for f in got.schema] == [
            ("conv_id", src.schema["conv_id"].dataType),
            ("window_start", src.schema["ts"].dataType),
            *[(f, DoubleType()) for f in feats],
        ]
        windows = local.assign(window_start=local["ts"].dt.floor(freq))
        want = pd.DataFrame([
            {"conv_id": c, "window_start": w, **reference(g)}
            for (c, w), g in windows.groupby(["conv_id", "window_start"])
        ])
        pd.testing.assert_frame_equal(_sorted_pdf(got), want)
        n_out = sum(u["windows_out"] for u in units if u["unit"].startswith(f"tier-{tier}-"))
        assert n_out == got.count()


def test_run_rollup_resume_recomputes_only_the_stale_tier(spark, transcripts, tmp_path):
    """With one tier's lineage entry deleted, resume recomputes that one
    unit in its bucket pass; the other tiers' files are not rewritten."""
    import hashlib
    import os

    from cesium_spark.jobs import run_rollup

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    transcripts.write.parquet(inp)
    kw = dict(tiers=("1m", "1h", "1d"), features=["n_epochs", "median"],
              bucket_days=3, verbose=False)
    first = run_rollup(spark, inp, out, **kw)
    victim = next(u["unit"] for u in first if u["unit"].startswith("tier-1h-"))

    def files(tier):
        root = os.path.join(out, f"tier={tier}")
        return {
            os.path.relpath(os.path.join(d, f), root):
                hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for d, _, fs in os.walk(root) for f in fs
        }

    kept = {t: files(t) for t in ("1m", "1d")}
    before = _sorted_pdf(spark.read.parquet(f"{out}/tier=1h"))
    os.remove(os.path.join(out, "_lineage", f"{victim}.json"))
    resumed = run_rollup(spark, inp, out, resume=True, **kw)
    assert [u["unit"] for u in resumed if not u["skipped"]] == [victim]
    assert [u["unit"] for u in resumed] == [u["unit"] for u in first]
    assert {t: files(t) for t in ("1m", "1d")} == kept
    pd.testing.assert_frame_equal(_sorted_pdf(spark.read.parquet(f"{out}/tier=1h")), before)


def test_run_rollup_rejects_window_crossing_midnight(spark, tmp_path):
    """A tier window that does not divide 24 h ("7 minutes": 1440/7) has
    windows spanning two days; run_rollup refuses it before any work."""
    import os

    from cesium_spark.jobs import run_rollup

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(_retention_fixture_rows([0])).write.parquet(inp)
    with pytest.raises(ValueError, match="divide 24 hours"):
        run_rollup(spark, inp, out, tiers=("1h", "7 minutes"),
                   features=["n_epochs"], verbose=False)
    assert not os.path.exists(out)


def test_run_rollup_late_rows_on_an_empty_day_keep_calendar_buckets(spark, tmp_path):
    """A bucket is a calendar range keyed by its first day: late rows on
    a day that had none join that day's bucket, so resume rewrites that
    one bucket and no later key shifts (a shifted key would leave its
    old partition behind, holding duplicate windows)."""
    from cesium_spark.jobs import run_rollup

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(_retention_fixture_rows(
        [d for d in range(14) if d != 7], per_day=1)).write.parquet(inp)
    kw = dict(tiers=("1d",), features=["n_epochs"], verbose=False)
    first = run_rollup(spark, inp, out, **kw)
    assert [u["unit"] for u in first] == ["tier-1d-days-20250201", "tier-1d-days-20250208"]

    late = _retention_fixture_rows([7], per_day=1).assign(conv_id="late")
    spark.createDataFrame(late).write.mode("append").parquet(inp)
    resumed = run_rollup(spark, inp, out, resume=True, **kw)
    assert [(u["unit"], u["skipped"]) for u in resumed] == [
        ("tier-1d-days-20250201", True), ("tier-1d-days-20250208", False)]
    got = spark.read.parquet(f"{out}/tier=1d").toPandas()
    assert len(got) == 14
    assert not got.duplicated(["conv_id", "window_start"]).any()
    assert sorted(got["bucket"].astype(str).unique()) == ["20250201", "20250208"]


def test_run_rollup_refuses_resume_with_other_bucket_days(spark, tmp_path):
    """Bucket keys depend on bucket_days, so a run with another value over
    committed units would write new bucket partitions beside the old ones
    (duplicate windows): it raises, naming both values, before writing."""
    import os

    from cesium_spark.jobs import run_rollup

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(_retention_fixture_rows(range(14), per_day=1)).write.parquet(inp)
    kw = dict(tiers=("1d",), features=["n_epochs"], verbose=False)
    run_rollup(spark, inp, out, bucket_days=7, **kw)

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(d, f), out), os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for d, _, fs in os.walk(out) for f in fs)

    before = tree()
    with pytest.raises(ValueError, match=r"bucket_days=7.*bucket_days=3"):
        run_rollup(spark, inp, out, resume=True, bucket_days=3, **kw)
    assert tree() == before


def test_rollup_job_main_leaves_the_caller_session_running(spark, tmp_path):
    """jobs/rollup_job.py end to end under a caller's session: main()
    writes the tier output and leaves the session running (only the
    script's __main__ block stops it)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.rollup_job import main

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(_retention_fixture_rows([0, 1])).write.parquet(inp)
    main(["--input", inp, "--output", out, "--tiers", "1h,1d",
          "--features", "n_epochs,mean"])
    got = spark.read.parquet(f"{out}/tier=1d").toPandas()
    assert sorted(got["n_epochs"]) == [10.0, 10.0]
    assert spark.read.parquet(f"{out}/tier=1h").count() == 2


def test_retention_drops_only_committed_old_days(spark, tmp_path):
    """Retention: raw days older than the horizon are dropped only when
    every tier committed their rollup; time travel still sees them."""
    import datetime as dt
    from cesium_spark.operators.retention import apply_retention
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.checkpoint import LineageLog
    from cesium_spark.jobs import run_rollup

    # 4 days of data for one conversation
    rows = []
    for d in range(4):
        for i in range(10):
            rows.append(("c", d * 10 + i, "user", "x" * (i + 1), "",
                         pd.Timestamp("2025-02-01") + pd.Timedelta(days=d, minutes=i)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))

    table = SnapshotTable(str(tmp_path / "raw"))
    s0 = table.append(df)
    inp = str(tmp_path / "flat")
    df.write.mode("overwrite").parquet(inp)

    out = str(tmp_path / "rollup")
    # roll up ONLY days 1-2 (bucket_days=1 units); leave day 0 uncommitted
    run_rollup(spark, inp, out, tiers=("1h",), features=["n_epochs", "mean"],
               bucket_days=1, verbose=False)
    log = LineageLog(str(tmp_path / "rollup/_lineage"))
    import os
    os.remove(os.path.join(out, "_lineage", "tier-1h-days-20250201.json"))

    horizon = dt.datetime(2025, 2, 4)  # days 1-3 are "old"
    rep = apply_retention(spark, table, log, ("1h",), horizon)
    # day 2025-02-01 blocked (commit deleted), 02-02/02-03 dropped
    assert rep["blocked_days"] == ["2025-02-01T00:00:00"]
    assert rep["dropped_days"] == ["2025-02-02T00:00:00", "2025-02-03T00:00:00"]
    assert rep["rows_after"] == 20  # day0 (blocked) + day3 (>= horizon... )

    cur = table.read(spark).toPandas()
    days = set(cur["ts"].dt.day)
    assert days == {1, 4}  # blocked old day + in-horizon day survive
    # time travel to the pre-retention snapshot still sees everything
    old = table.read(spark, as_of=s0).toPandas()
    assert len(old) == 40


def _retention_fixture_rows(days, per_day=10, start="2025-02-01"):
    rows = []
    for d in days:
        for i in range(per_day):
            rows.append(("c", d * per_day + i, "user", "x" * (i + 1), "",
                         pd.Timestamp(start) + pd.Timedelta(days=d, minutes=i)))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def _tiered_ops():
    """Every operator that takes a tier, as (name, call(df, tier))."""
    import datetime as dt

    from cesium_spark.jobs import bucket_rollup
    from cesium_spark.operators.aggstate import rollup_states
    from cesium_spark.operators.compress import compress_blocks
    from cesium_spark.operators.downsample import ohlc_downsample
    from cesium_spark.operators.incremental import affected_windows
    from cesium_spark.operators.locf import interpolate_grid
    from cesium_spark.operators.rangejoin import interval_join
    from cesium_spark.operators.rollup import rollup_sql, rollup_tiers
    from cesium_spark.operators.salt import skew_resistant_states
    from cesium_spark.operators.timeweight import time_weighted_avg

    feats = ["n_epochs"]

    def intervals(df):
        return df.select("conv_id", F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"))

    return [
        ("rollup_kernel", lambda df, t: rollup_kernel(df, feats, t)),
        ("rollup_tiers", lambda df, t: rollup_tiers(df, feats, ["1h", t])),
        ("bucket_rollup", lambda df, t: bucket_rollup(
            df, [dt.datetime(2025, 2, 1)], 10, [t], feats)),
        ("rollup_sql", lambda df, t: rollup_sql(df, t)),
        ("partial_states", lambda df, t: partial_states(df, t)),
        ("rollup_states", lambda df, t: rollup_states(partial_states(df, "1m"), t)),
        ("skew_resistant_states", lambda df, t: skew_resistant_states(df, tier=t)),
        ("locf_grid", lambda df, t: locf_grid(df, t)),
        ("interpolate_grid", lambda df, t: interpolate_grid(df, t)),
        ("time_weighted_avg", lambda df, t: time_weighted_avg(df, t)),
        ("ohlc_downsample", lambda df, t: ohlc_downsample(df, t)),
        ("compress_blocks", lambda df, t: compress_blocks(df, t)),
        ("affected_windows", lambda df, t: affected_windows(df, t)),
        ("incremental_rollup", lambda df, t: incremental_rollup(
            rollup_kernel(df, feats, "1h"), df, df, feats, t)),
        ("interval_join", lambda df, t: interval_join(df, intervals(df), tier=t)),
    ]


@pytest.mark.parametrize("name", [n for n, _ in _tiered_ops()])
def test_every_tiered_operator_keeps_one_tier_contract(spark, name):
    """One tier contract for every operator that takes a tier: a TIERS
    name or a window string whose width divides 24 hours. Plans only —
    "15 minutes" is accepted, while "7 minutes" (1440/7) and "7m" (no
    such name) raise ValueError when the operator is called."""
    call = dict(_tiered_ops())[name]
    df = spark.createDataFrame(_retention_fixture_rows([0], per_day=3))
    assert call(df, "15 minutes").columns
    for bad in ("7 minutes", "7m"):
        with pytest.raises(ValueError, match="divide 24 hours|unknown tier"):
            call(df, bad)


def test_retention_blocks_late_rows_in_committed_day(spark, tmp_path):
    """ADVICE r1 (high): rows appended to an already-committed old day
    must BLOCK retention for that day — the committed per-day fingerprint
    no longer matches the raw table, so dropping it would delete data
    that was never rolled up. A fresh rollup recommit unblocks it."""
    import datetime as dt
    from cesium_spark.jobs import run_rollup
    from cesium_spark.operators.retention import apply_retention
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.checkpoint import LineageLog

    df = spark.createDataFrame(_retention_fixture_rows([0, 1, 2]))
    table = SnapshotTable(str(tmp_path / "raw"))
    table.append(df)
    inp = str(tmp_path / "flat")
    df.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "rollup")
    run_rollup(spark, inp, out, tiers=("1h",), features=["n_epochs"],
               bucket_days=3, verbose=False)
    log = LineageLog(str(tmp_path / "rollup/_lineage"))

    # late data lands in committed day 0 AFTER the rollup commit
    late = spark.createDataFrame(_retention_fixture_rows([0], per_day=3))
    table.append(late)

    horizon = dt.datetime(2025, 2, 10)  # everything is "old"
    rep = apply_retention(spark, table, log, ("1h",), horizon)
    assert rep["blocked_days"] == ["2025-02-01T00:00:00"]
    assert rep["dropped_days"] == ["2025-02-02T00:00:00", "2025-02-03T00:00:00"]
    remaining = table.read(spark).toPandas()
    assert len(remaining) == 13  # 10 committed + 3 late rows, none lost

    # recommitting the unit against the current table unblocks the day
    table.read(spark).write.mode("overwrite").parquet(inp)
    run_rollup(spark, inp, out, tiers=("1h",), features=["n_epochs"],
               bucket_days=3, resume=True, verbose=False)
    rep2 = apply_retention(spark, table, log, ("1h",), horizon)
    assert rep2["dropped_days"] == ["2025-02-01T00:00:00"]
    assert table.read(spark).count() == 0


def test_retention_never_claims_gap_days_covered(spark, tmp_path):
    """ADVICE r1 (medium): a calendar day with no rows at rollup time
    must not be claimed covered by a spanning day-bucket unit — late data
    for the gap day would otherwise be dropped un-rolled-up."""
    import datetime as dt
    from cesium_spark.jobs import run_rollup
    from cesium_spark.operators.retention import apply_retention
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.checkpoint import LineageLog

    df = spark.createDataFrame(_retention_fixture_rows([0, 2]))  # gap: day 1
    table = SnapshotTable(str(tmp_path / "raw"))
    table.append(df)
    inp = str(tmp_path / "flat")
    df.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "rollup")
    run_rollup(spark, inp, out, tiers=("1h",), features=["n_epochs"],
               bucket_days=3, verbose=False)  # one unit spanning the gap
    log = LineageLog(str(tmp_path / "rollup/_lineage"))

    # data for the gap day arrives after the commit
    table.append(spark.createDataFrame(_retention_fixture_rows([1], per_day=4)))

    horizon = dt.datetime(2025, 2, 10)
    rep = apply_retention(spark, table, log, ("1h",), horizon)
    assert rep["blocked_days"] == ["2025-02-02T00:00:00"]
    assert rep["dropped_days"] == ["2025-02-01T00:00:00", "2025-02-03T00:00:00"]
    assert table.read(spark).count() == 4  # the gap-day rows survive


def _file_per_group_df(spark, groups):
    """One DataFrame partition, so one written data file, per group of
    fixture days: [[0], [1, 3]] makes a day-0 file and a file spanning
    days 1 and 3. Turn indices stay unique across groups."""
    frames = []
    for g, days in enumerate(groups):
        pdf = _retention_fixture_rows(days)
        pdf["turn_idx"] += 1000 * g
        frames.append(pdf.assign(_g=g))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    return df.repartitionByRange(len(groups), "_g").drop("_g")


def _committed_retention_table(spark, tmp_path, groups, root_name="raw"):
    """A SnapshotTable with one data file per group, whose 1h rollup is
    committed for every day (one unit spanning them all)."""
    from cesium_spark.jobs import run_rollup
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.checkpoint import LineageLog

    df = _file_per_group_df(spark, groups)
    table = SnapshotTable(str(tmp_path / root_name))
    s0 = table.append(df)
    inp = str(tmp_path / "flat")
    df.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "rollup")
    run_rollup(spark, inp, out, tiers=("1h",), features=["n_epochs"],
               bucket_days=7, verbose=False)
    return table, s0, LineageLog(f"{out}/_lineage")


def _parquet_files(table):
    import glob

    return set(glob.glob(f"{glob.escape(table.root)}/data/**/*.parquet",
                         recursive=True))


@pytest.mark.parametrize("root_name", ["raw", "raw table"])
def test_retention_drops_day_aligned_files_without_writing(
        spark, tmp_path, root_name):
    """Files holding only dropped days leave the manifest with no data
    I/O: no parquet file is written, and the table keeps exactly the rows
    the old whole-table rewrite kept. A root with a space checks that the
    URL-encoded input_file_name() URIs still match the manifest's files."""
    import datetime as dt

    from cesium_spark.operators.retention import apply_retention

    table, s0, log = _committed_retention_table(
        spark, tmp_path, [[0], [1], [2], [3]], root_name)
    before = _parquet_files(table)
    horizon = dt.datetime(2025, 2, 3)  # days 0 and 1 are old
    rep = apply_retention(spark, table, log, ("1h",), horizon)
    assert rep["dropped_days"] == ["2025-02-01T00:00:00", "2025-02-02T00:00:00"]
    assert (rep["files_removed"], rep["files_rewritten"], rep["rows_rewritten"]) == (2, 0, 0)
    assert rep["rows_before"] == 40 and rep["rows_after"] == 20
    assert _parquet_files(table) == before
    # the snapshot dir lost two of its four files: it is listed file by file
    assert sorted(table.snapshots()[-1]["paths"]) == sorted(
        f for f in before if "-00002-" in f or "-00003-" in f)

    old = table.read(spark, as_of=s0)
    rewrite_path = old.filter(~F.date_trunc("day", "ts").isin(
        [dt.datetime(2025, 2, 1), dt.datetime(2025, 2, 2)]))
    cur = table.read(spark)
    assert cur.exceptAll(rewrite_path).count() == 0
    assert rewrite_path.exceptAll(cur).count() == 0


def test_retention_rewrites_only_the_straddling_file(spark, tmp_path):
    """Only a file spanning a dropped and a kept day is rewritten, with
    exactly its kept rows; a file of dropped days alone is removed, a
    file of kept days alone carried. Time travel to the pre-retention
    snapshot still returns every row."""
    import datetime as dt

    from cesium_spark.operators.retention import apply_retention

    # file 0: days 0 (dropped) and 2 (kept); file 1: day 1; file 2: day 2
    table, s0, log = _committed_retention_table(
        spark, tmp_path, [[0, 2], [1], [2]])
    before = _parquet_files(table)
    horizon = dt.datetime(2025, 2, 3)
    rep = apply_retention(spark, table, log, ("1h",), horizon)
    assert rep["dropped_days"] == ["2025-02-01T00:00:00", "2025-02-02T00:00:00"]
    assert (rep["files_removed"], rep["files_rewritten"], rep["rows_rewritten"]) == (1, 1, 10)
    assert rep["rows_after"] == 20

    (written,) = _parquet_files(table) - before
    straddler = next(f for f in before if "-00000-" in f)
    kept_rows = spark.read.parquet(straddler).filter(F.col("ts") >= F.lit(horizon))
    got = spark.read.parquet(written)
    assert got.count() == 10
    assert got.exceptAll(kept_rows).count() == 0 and kept_rows.exceptAll(got).count() == 0
    live = table.snapshots()[-1]["paths"]
    assert straddler not in live and any("-00002-" in p for p in live)
    assert table.read(spark).count() == 20
    assert table.read(spark, as_of=s0).count() == 40


def test_retention_dry_run_plans_what_apply_retention_drops(spark, tmp_path, capsys):
    """The job's --dry-run reports the plan without touching the table
    (_snapshots.json byte-identical); apply_retention then drops exactly
    the reported days and files."""
    import datetime as dt
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cesium_spark.operators.retention import apply_retention
    from jobs.retention_job import main

    table, _s0, log = _committed_retention_table(
        spark, tmp_path, [[0, 2], [1], [2]])
    manifest = os.path.join(table.root, "_snapshots.json")
    with open(manifest, "rb") as f:
        manifest_bytes = f.read()
    main(["--table", table.root, "--lineage", log.root, "--horizon", "2025-02-03",
          "--tiers", "1h", "--dry-run"])
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    with open(manifest, "rb") as f:
        assert f.read() == manifest_bytes
    assert plan["dry_run"] and plan["would_drop_rows"] == 20 and plan["blocked_days"] == []
    assert len(plan["would_remove_files"]) == 1 and len(plan["would_rewrite_files"]) == 1

    rep = apply_retention(spark, table, log, ("1h",), dt.datetime(2025, 2, 3))
    assert rep["dropped_days"] == plan["would_drop_days"]
    assert rep["files_removed"] == len(plan["would_remove_files"])
    assert rep["files_rewritten"] == len(plan["would_rewrite_files"])


def test_state_cascade_equals_direct_rollup(spark, transcripts):
    """Hierarchical continuous aggregates: 1m states merged to 1h merged
    to 1d must equal partial states computed directly at 1d from raw —
    the associativity that lets coarse tiers materialize from fine tiers
    without re-reading raw rows."""
    from cesium_spark.operators.aggstate import (
        finalize_states, partial_states, rollup_states)

    st_1m = partial_states(transcripts, "1m")
    cascaded = finalize_states(
        rollup_states(rollup_states(st_1m, "1h"), "1d"),
        ["conv_id", "window_start"],
    ).toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    direct = finalize_states(
        partial_states(transcripts, "1d"), ["conv_id", "window_start"]
    ).toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(cascaded, direct, rtol=1e-12, atol=1e-12)


def test_rollup_states_validates_input(spark, transcripts):
    from cesium_spark.operators.aggstate import partial_states, rollup_states

    untiered = partial_states(transcripts, None)  # no window_start
    with pytest.raises(ValueError, match="window_start"):
        rollup_states(untiered, "1h")
    st = partial_states(transcripts, "1m")
    with pytest.raises(ValueError, match="unknown tier"):
        rollup_states(st, "7m")


def test_asof_join_semantics(spark):
    """As-of join: <= match semantics, per-key isolation, tolerance
    nulling, and no-match-yet NULLs."""
    from cesium_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", pd.Timestamp("2025-01-01 00:05").to_pydatetime(), 1),
         ("a", pd.Timestamp("2025-01-01 00:10").to_pydatetime(), 2),
         ("a", pd.Timestamp("2025-01-01 02:00").to_pydatetime(), 3),
         ("b", pd.Timestamp("2025-01-01 00:07").to_pydatetime(), 4)],
        "conv_id string, ts timestamp, n int")
    right = spark.createDataFrame(
        [("a", pd.Timestamp("2025-01-01 00:01").to_pydatetime(), 10.0),
         ("a", pd.Timestamp("2025-01-01 00:10").to_pydatetime(), 20.0),  # exact tie -> matches
         ("b", pd.Timestamp("2025-01-01 00:09").to_pydatetime(), 30.0)],  # after b's left row
        "conv_id string, ts timestamp, mark double")

    out = asof_join(left, right, key_col="conv_id", value_cols=["mark"]) \
        .toPandas().set_index("n")["mark_asof"]
    assert out[1] == 10.0          # most recent before 00:05
    assert out[2] == 20.0          # exact-timestamp right row matches (<=)
    assert out[3] == 20.0          # carried forward
    assert pd.isna(out[4])         # b has no marker at-or-before 00:07

    tol = asof_join(left, right, key_col="conv_id", value_cols=["mark"],
                    tolerance_seconds=600).toPandas().set_index("n")["mark_asof"]
    assert tol[2] == 20.0
    assert pd.isna(tol[3])         # 110 min stale > 10 min tolerance


def test_asof_join_plan_is_single_shuffle_no_join(spark):
    from cesium_spark.operators.asof import asof_join
    from cesium_spark.datagen import generate_transcripts

    df = generate_transcripts(spark, n_convs=4, seed=3)
    right = df.filter(F.col("turn_idx") % 10 == 0).select(
        "conv_id", "ts", F.length("text").cast("double").alias("mark"))
    plan = asof_join(df, right, value_cols=["mark"])._jdf.queryExecution().toString()
    assert "Join" not in plan.split("== Physical Plan ==")[-1]
    assert plan.split("== Physical Plan ==")[-1].count("Exchange hashpartitioning") == 1


def test_interval_join_containment_and_plan(spark):
    """Range join: half-open [start, end) containment, intervals spanning
    multiple tier buckets, overlapping intervals both match — and the
    physical plan is an equi-join (no CartesianProduct /
    BroadcastNestedLoop from the range predicate)."""
    from cesium_spark.operators.rangejoin import interval_join

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    pts = spark.createDataFrame(
        [("a", t("2025-01-01 00:30"), 1), ("a", t("2025-01-01 02:30"), 2),
         ("a", t("2025-01-01 03:00"), 3), ("b", t("2025-01-01 00:30"), 4)],
        "conv_id string, ts timestamp, pid int")
    ivl = spark.createDataFrame(
        [("a", t("2025-01-01 00:00"), t("2025-01-01 03:00"), 100),  # 3 buckets
         ("a", t("2025-01-01 02:00"), t("2025-01-01 04:00"), 200)],  # overlaps
        "conv_id string, start timestamp, end timestamp, iid int")

    out = interval_join(pts, ivl).toPandas()
    pairs = set(zip(out.pid, out.iid))
    # pid=3 at 03:00 is NOT in [00:00, 03:00) — half-open end
    assert pairs == {(1, 100), (2, 100), (2, 200), (3, 200)}

    plan = interval_join(pts, ivl)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys and "BroadcastNestedLoop" not in phys


def test_lttb_downsample_properties(spark, transcripts):
    """LTTB: exact n_out points per long series, endpoints always kept,
    output is a time-ordered subset of the input, short series pass
    through untouched."""
    from cesium_spark.operators.downsample import lttb_downsample

    out = lttb_downsample(transcripts, n_out=50).toPandas()
    raw = transcripts.toPandas()
    for conv, g in out.groupby("conv_id"):
        src = raw[raw.conv_id == conv].sort_values(["ts", "turn_idx"])
        n_src = len(src)
        g = g.sort_values("kept_rank")
        assert len(g) == min(50, n_src)
        assert g.iloc[0]["ts"] == src.iloc[0]["ts"]     # first kept
        assert g.iloc[-1]["ts"] == src.iloc[-1]["ts"]   # last kept
        assert g["ts"].is_monotonic_increasing
        src_pts = set(zip(src["ts"], src["text"].str.len().astype(float)))
        assert set(zip(g["ts"], g["value"])) <= src_pts  # subset, no invention


def test_lttb_hand_example(spark):
    """Tiny geometry check: with one interior bucket, LTTB must keep the
    point with the largest triangle area against the endpoints."""
    from cesium_spark.operators.downsample import lttb_downsample

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    rows = [("c", i, "u", "x", "", t(f"2025-01-01 00:0{i}")) for i in range(5)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))
    # value = length(text) = 1 for all -> degenerate; use custom value col
    vals = {0: 0.0, 1: 1.0, 2: 10.0, 3: 1.0, 4: 0.0}
    df = df.withColumn("v", F.element_at(
        F.create_map(*[F.lit(x) for kv in vals.items() for x in kv]),
        F.col("turn_idx")))
    out = lttb_downsample(df, n_out=3, value="v").toPandas().sort_values("kept_rank")
    assert list(out["value"]) == [0.0, 10.0, 0.0]  # spike survives


def test_partition_invariance_of_new_operators(spark, transcripts):
    """Round-2 operators must be partition-count invariant: as-of join,
    OHLC, the state cascade, and LTTB produce identical results under
    different shuffle layouts (catches accidental dependence on partition
    or arrival order)."""
    from cesium_spark.operators.aggstate import (
        finalize_states, partial_states, rollup_states)
    from cesium_spark.operators.asof import asof_join
    from cesium_spark.operators.downsample import lttb_downsample, ohlc_downsample

    right = transcripts.filter(F.col("turn_idx") % 25 == 0).select(
        "conv_id", "ts", F.length("text").cast("double").alias("mark"))

    def run():
        a = asof_join(transcripts, right, value_cols=["mark"]) \
            .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        o = ohlc_downsample(transcripts, "1h") \
            .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        c = finalize_states(
            rollup_states(partial_states(transcripts, "1m"), "1h"),
            ["conv_id", "window_start"],
        ).toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        d = lttb_downsample(transcripts, n_out=40) \
            .toPandas().sort_values(["conv_id", "kept_rank"]).reset_index(drop=True)
        return a, o, c, d

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_asof_join_right_dup_ts_tiebreak_deterministic(spark):
    """ADVICE r2: right rows sharing the exact same (key, ts) must resolve
    to the GREATEST value tuple regardless of physical row order /
    partitioning — not whichever row the shuffle happened to order last."""
    from cesium_spark.operators.asof import asof_join

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    left = spark.createDataFrame(
        [("a", t("2025-01-01 00:10"), 1), ("a", t("2025-01-01 00:20"), 2)],
        "conv_id string, ts timestamp, n int")
    for perm in ([5.0, 9.0, 7.0], [9.0, 7.0, 5.0], [7.0, 5.0, 9.0]):
        right = spark.createDataFrame(
            [("a", t("2025-01-01 00:10"), v) for v in perm],
            "conv_id string, ts timestamp, mark double").repartition(3)
        out = asof_join(left, right, key_col="conv_id", value_cols=["mark"]) \
            .toPandas().set_index("n")["mark_asof"]
        assert out[1] == 9.0 and out[2] == 9.0, perm


def test_interval_join_degenerate_intervals_match_nothing(spark):
    """ADVICE r2: end <= start intervals are empty under half-open
    semantics; they must contribute zero pairs, not crash F.sequence."""
    from cesium_spark.operators.rangejoin import interval_join

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    pts = spark.createDataFrame(
        [("a", t("2025-01-01 00:30"), 1)], "conv_id string, ts timestamp, pid int")
    ivl = spark.createDataFrame(
        [("a", t("2025-01-01 00:00"), t("2025-01-01 01:00"), 1),   # real
         ("a", t("2025-01-01 00:30"), t("2025-01-01 00:30"), 2),   # empty
         ("a", t("2025-01-01 02:00"), t("2025-01-01 01:00"), 3)],  # inverted
        "conv_id string, start timestamp, end timestamp, iid int")
    out = interval_join(pts, ivl).toPandas()
    assert set(zip(out.pid, out.iid)) == {(1, 1)}


def test_rollup_states_rejects_non_coarser_tier(spark, transcripts):
    """ADVICE r2: rolling 1d states 'up' to 1h would tag whole-day sums as
    hourly windows — the tier rides as window_start column metadata and a
    non-strictly-coarser target raises."""
    from cesium_spark.operators.aggstate import partial_states, rollup_states

    st_1d = partial_states(transcripts, "1d")
    with pytest.raises(ValueError, match="strictly coarser"):
        rollup_states(st_1d, "1h")
    st_1h = partial_states(transcripts, "1h")
    with pytest.raises(ValueError, match="strictly coarser"):
        rollup_states(st_1h, "1h")  # same tier is not coarser
    # explicit fine_tier overrides/stands in when metadata is absent
    stripped = st_1h.select(*st_1h.columns)  # select keeps metadata...
    with pytest.raises(ValueError, match="strictly coarser"):
        rollup_states(stripped, "1m", fine_tier="1h")
    # the valid cascade still works and restamps the tier for chaining
    rolled = rollup_states(st_1h, "1d")
    assert rolled.schema["window_start"].metadata.get("tier") == "1d"
    with pytest.raises(ValueError, match="strictly coarser"):
        rollup_states(rolled, "1h")


def test_token_topk_and_tfidf_hand_example(spark):
    """Hand-checkable corpus: counts, ranks, and the smoothed-idf scores
    (tf * (ln((N+1)/(df+1)) + 1)) come out exactly."""
    from cesium_spark.operators.text import tfidf_top_terms, token_topk

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple  ")],
        "doc_id int, text string")
    top = token_topk(docs, k=10).toPandas()
    assert list(top.token) == ["apple", "banana", "cherry"]
    assert list(top.n) == [3, 2, 1]
    assert list(top["rank"]) == [1, 2, 3]

    out = tfidf_top_terms(docs, k=2).toPandas()
    n = 3
    def idf(df_): return np.log((n + 1) / (df_ + 1.0)) + 1.0
    d1 = out[out.doc_id == 1].set_index("token")
    assert round(2 * idf(2), 6) == d1.loc["apple", "tfidf"]   # tf=2, df=2
    assert round(1 * idf(2), 6) == d1.loc["banana", "tfidf"]  # tf=1, df=2
    # doc 2: banana and cherry — cherry (df=1) outscores banana (df=2)
    d2 = out[out.doc_id == 2]
    assert list(d2.sort_values("rank").token) == ["cherry", "banana"]


def test_repetition_stats_hand_example(spark):
    """Gopher repetition measures on hand-computable fixtures: gram
    coverage counts occurrences x gram chars over doc chars, top
    coverage only over REPEATED grams (clamped to 1), line dups over
    line counts/chars."""
    from cesium_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),                      # 11 chars, heavy 2/3/4-gram overlap
            (2, "hello world\nhello world\nbye"),    # 27 chars, dup line
            (3, "x"),                                # too short for any gram
            (4, ""),                                 # empty
            (5, "one two three four five six"),      # repetition-free
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}

    d1 = out[1]
    assert d1["top_2gram_char_frac"] == round(3 * 3 / 11 + 1e-9, 6)   # "a b" x3
    assert d1["top_3gram_char_frac"] == round(2 * 5 / 11 + 1e-9, 6)   # "a b a" x2
    assert d1["top_4gram_char_frac"] == 1.0                           # 2*7/11 clamps
    assert d1["dup_line_frac"] == 0.0 and d1["repetitive"] == 1

    d2 = out[2]
    assert d2["dup_line_frac"] == round(1 / 3 + 1e-9, 6)              # 3 lines, 2 distinct
    assert d2["dup_line_char_frac"] == round(22 / 27 + 1e-9, 6)       # both "hello world"s
    assert d2["top_2gram_char_frac"] == round(22 / 27 + 1e-9, 6)
    assert d2["top_3gram_char_frac"] == 0.0                           # all 3-grams unique
    assert d2["repetitive"] == 1

    # short / empty / repetition-free docs: all measures zero, not flagged
    for k in (3, 4, 5):
        row = out[k]
        assert row["repetitive"] == 0
        assert all(v == 0.0 for c, v in row.items() if c.endswith("frac"))


def test_asof_join_carries_whole_right_row_on_ties(spark):
    """Review finding: per-column last(ignorenulls) could stitch columns
    from DIFFERENT tied right rows when values are NULL. The carry must
    be one whole right row — the greatest value tuple, NULLs included."""
    from cesium_spark.operators.asof import asof_join

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    left = spark.createDataFrame(
        [("a", t("2025-01-01 00:10"), 1)], "conv_id string, ts timestamp, n int")
    right = spark.createDataFrame(
        [("a", t("2025-01-01 00:10"), 9.0, None),
         ("a", t("2025-01-01 00:10"), 5.0, 7.0)],
        "conv_id string, ts timestamp, mark double, aux double")
    out = asof_join(left, right, key_col="conv_id",
                    value_cols=["mark", "aux"]).toPandas().iloc[0]
    # greatest tuple is (9.0, NULL) — aux must NOT be stitched from the
    # (5.0, 7.0) row
    assert out["mark_asof"] == 9.0 and pd.isna(out["aux_asof"])


def test_featurize_time_series_channel_count_mismatch_raises(spark):
    """Review finding: 2 time channels against 3 value channels hit a
    raw IndexError; it must be the contract's ValueError."""
    from cesium_spark.api import featurize_time_series

    rng = np.random.RandomState(0)
    m = [rng.normal(size=10) for _ in range(3)]
    t = [np.sort(rng.uniform(0, 1, 10)) for _ in range(2)]
    with pytest.raises(ValueError, match="channels"):
        featurize_time_series(spark, [t], [m], None, ["mean"])


def test_clean_corpus_job_end_to_end(spark, tmp_path):
    """spark-submit corpus-cleaning job: near-dup clusters keep one
    survivor, the off-language and low-quality docs drop, the kept
    parquet + JSON report agree."""
    import json
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.clean_corpus_job import main

    good = ("the quick brown fox jumps over the lazy dog and that is fine "
            "for the test of this corpus cleaning pipeline today ") * 3
    other = ("this second document is about the spark engine and the rollup "
             "tiers that keep the data small for training runs in the lab ") * 3
    rows = [
        (1, good + "unique tail one"),
        (2, good + "unique tail one"),          # near-dup of 1 -> dropped
        (3, "der hund und die katze das ist nicht ein test zu hause " * 5),  # de
        # English (stopword-heavy) but short + punct-laden -> low quality
        (4, "the, of. and! is? that; for: in."),
        (5, other),                              # distinct English, good quality
    ]
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id int, text string").write.parquet(in_dir)

    report = main([
        "--input", in_dir, "--output", out_dir,
        "--min-quality", "0.5", "--write-verdicts",
    ])
    kept = spark.read.parquet(out_dir + "/kept").toPandas()
    verd = spark.read.parquet(out_dir + "/verdicts").toPandas().set_index("doc_id")
    assert sorted(kept.doc_id) == [1, 5]
    assert verd.loc[2, "reason"] == "near_dup"
    assert verd.loc[3, "reason"] == "lang"
    assert verd.loc[4, "reason"] == "low_quality"
    assert report["kept"] == 2 and report["input_docs"] == 5
    assert report["dropped_near_dup"] == 1


def test_partition_invariance_of_round3_operators(spark):
    """Round-3 operators must produce identical results at different
    shuffle-partition counts (connected components, tfidf ranking,
    token top-k, impute fills)."""
    from cesium_spark.api import impute_featureset
    from cesium_spark.operators.graph import dedup_clusters
    from cesium_spark.operators.locf import interpolate_grid
    from cesium_spark.operators.text import tfidf_top_terms, token_topk

    rng = np.random.RandomState(7)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(list("abcdefgh"), size=12)))
         for i in range(60)],
        "doc_id int, text string").cache()
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in rng.randint(0, 60, size=(30, 2))
         if a != b],
        "id_a int, id_b int").cache()
    fset = spark.createDataFrame(
        [(str(i), float(i % 9) if i % 5 else None) for i in range(40)],
        "name string, v double").cache()
    t0 = pd.Timestamp("2025-01-01")
    ev = spark.createDataFrame(
        [(f"c{i % 5}", (t0 + pd.Timedelta(minutes=int(x))).to_pydatetime(), int(i), float(i % 13))
         for i, x in enumerate(rng.randint(0, 60 * 48, size=200))],
        "conv_id string, ts timestamp, turn_idx int, value double").cache()

    def run():
        return (
            dedup_clusters(docs, pairs).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            tfidf_top_terms(docs, k=2).toPandas()
            .sort_values(["doc_id", "rank"]).reset_index(drop=True),
            token_topk(docs, k=5).toPandas().reset_index(drop=True),
            impute_featureset(fset, strategy="median").toPandas()
            .sort_values("name").reset_index(drop=True),
            interpolate_grid(ev, "1h", value="value").toPandas()
            .sort_values(["conv_id", "grid_ts"]).reset_index(drop=True),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_interpolate_grid_hand_example(spark):
    """Linear gap-fill: a 3-hour gap between values 10 and 40 yields
    20, 30 at the interior slots; leading/trailing stay NULL-free here
    (observed ends), and filled flags mark the gap slots."""
    from cesium_spark.operators.locf import interpolate_grid

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    df = spark.createDataFrame(
        [("a", t("2025-01-01 00:10"), 0, 10.0),
         ("a", t("2025-01-01 03:20"), 1, 40.0),
         ("a", t("2025-01-01 04:15"), 2, 50.0)],
        "conv_id string, ts timestamp, turn_idx int, value double")
    out = interpolate_grid(df, "1h", value="value").toPandas() \
        .sort_values("grid_ts").reset_index(drop=True)
    assert list(out.interp_value) == [10.0, 20.0, 30.0, 40.0, 50.0]
    assert list(out.filled) == [False, True, True, False, False]


def test_time_weighted_avg_hand_example(spark):
    """TWA: value 10 held 30 min then 40 held 10 min inside one hour ->
    (10*30 + 40*10 + last-hold-zero)/40 = 17.5; single-point window
    degenerates to its value; count-weighted avg would say 25."""
    from cesium_spark.operators.timeweight import time_weighted_avg

    def t(s):
        return pd.Timestamp(s).to_pydatetime()

    df = spark.createDataFrame(
        [("a", t("2025-01-01 00:00"), 0, 10.0),
         ("a", t("2025-01-01 00:30"), 1, 40.0),
         ("a", t("2025-01-01 00:40"), 2, 40.0),
         ("a", t("2025-01-01 02:05"), 3, 7.0)],   # lone point in 02:00
        "conv_id string, ts timestamp, turn_idx int, value double")
    out = time_weighted_avg(df, "1h", value="value").toPandas() \
        .set_index("window_start")
    w0 = out.loc[pd.Timestamp("2025-01-01 00:00")]
    # integral: 10*(30m) + 40*(10m) over span 40m
    assert abs(w0["twa"] - (10 * 30 + 40 * 10) / 40) < 1e-9
    assert w0["n_points"] == 3
    w2 = out.loc[pd.Timestamp("2025-01-01 02:00")]
    assert w2["twa"] == 7.0 and w2["n_points"] == 1


def test_retention_decision_relational_verdicts(spark):
    """The relational retention decision (r3 VERDICT item 6) must agree
    with the driver-side droppable_days contract on every scenario the
    unit tests encode: fingerprint match -> droppable, late data ->
    blocked, missing tier commit -> blocked, recommit-with-fresh-count
    -> droppable again, inside horizon -> retained."""
    import datetime as dt
    from cesium_spark.operators.retention import (
        droppable_days, retention_decision)

    # 5 days x 10 rows (day index encoded in the timestamp)
    df = spark.createDataFrame(_retention_fixture_rows([0, 1, 2, 3, 4]))
    D = lambda d: dt.datetime(2025, 2, 1 + d)
    # commits: (tier, day, n_rows)
    commits = spark.createDataFrame(
        [
            ("1h", D(0), 10), ("1d", D(0), 10),      # both match -> droppable
            ("1h", D(1), 10), ("1d", D(1), 7),       # 1d stale -> late data
            ("1h", D(2), 10),                        # 1d missing -> uncommitted
            ("1h", D(3), 7), ("1h", D(3), 10),       # recommit matches
            ("1d", D(3), 10),
            ("1h", D(4), 10), ("1d", D(4), 10),      # matches but recent
        ],
        "tier string, day timestamp, n_rows long",
    )
    horizon = dt.datetime(2025, 2, 5)  # day 4 is inside the horizon
    out = retention_decision(df, commits, ["1h", "1d"], horizon) \
        .toPandas().set_index("day")["verdict"]
    assert out.to_dict() == {
        pd.Timestamp(D(0)): "droppable",
        pd.Timestamp(D(1)): "blocked_late_data",
        pd.Timestamp(D(2)): "blocked_uncommitted",
        pd.Timestamp(D(3)): "droppable",
        pd.Timestamp(D(4)): "retained_recent",
    }

    # cross-check: the droppable set equals droppable_days given the
    # same commits presented as a lineage log (one unit per commit row —
    # droppable_days covers a day when ANY unit's fingerprint matches)
    logs = []
    for r in commits.collect():
        logs.append((r["tier"], r["day"].strftime("%Y%m%d"), r["n_rows"]))

    class _Log2:
        def units(self):
            return [f"tier-{t}-days-{i}" for i, (t, _, _) in enumerate(logs)]

        def read(self, unit):
            i = int(unit.rsplit("-", 1)[1])
            t, k, n = logs[i]
            return {"metrics": {"day_rows": {k: n}}}

    got = droppable_days(df, _Log2(), ["1h", "1d"], horizon)
    assert got == [D(0), D(3)]


def test_hash_split_deterministic_and_stable(spark):
    """The split label is a pure function of (id, salt): it matches a
    hashlib re-derivation, never changes when the corpus grows (no
    test-set leakage across dataset versions), honors fractions to
    ~1e-4 of the bucket space, and re-salts independently."""
    import hashlib
    from cesium_spark.operators.split import hash_split

    def expect(i, salt=""):
        b = int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:8], 16) % 10000
        return "train" if b < 9000 else ("val" if b < 9500 else "test")

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    got = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert all(got[i] == expect(i) for i in range(2000))

    # growth stability: labels computed on a subset are identical
    sub = {r.doc_id: r.split
           for r in hash_split(df.filter("doc_id < 100")).collect()}
    assert all(sub[i] == got[i] for i in range(100))

    # fractions roughly honored (md5 is uniform; 2000 ids)
    from collections import Counter
    c = Counter(got.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert c["val"] > 0 and c["test"] > 0

    # salt changes membership; bad fractions raise
    salted = {r.doc_id: r.split
              for r in hash_split(df, salt="v2").collect()}
    assert salted != got
    assert all(salted[i] == expect(i, "v2") for i in range(100))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, fractions={"train": 0.5, "val": 0.1})


def test_event_run_stats_hand_example(spark):
    """Gaps-and-islands loop detection: planted runs come out exactly —
    user 1 has runs [a x3, b x1, a x2] (max 3, 6 events, 3 runs), user
    2 loops (one type x5, flag fires at threshold 5), user 3 never
    repeats. Tie-breaking: two equal timestamps order by event_id."""
    import pandas as pd
    from cesium_spark.operators.runs import event_run_stats

    t0 = pd.Timestamp("2025-01-01")
    rows = []
    seq = {1: ["a", "a", "a", "b", "a", "a"],
           2: ["x", "x", "x", "x", "x"],
           3: ["p", "q", "r"]}
    eid = 0
    for u, types in seq.items():
        for i, ty in enumerate(types):
            # same ts for the first two events of user 1: order falls
            # back to event_id, keeping the a-run intact
            ts = t0 if (u == 1 and i < 2) else t0 + pd.Timedelta(seconds=i)
            rows.append((eid, ts.to_pydatetime(), u, ty))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.user_id: r.asDict() for r in event_run_stats(df).collect()}

    assert (got[1]["n_events"], got[1]["n_runs"], got[1]["max_run"]) == (6, 3, 3)
    assert got[1]["repeat_frac"] == round(3 / 6 + 1e-9, 6)
    assert got[1]["looping"] == 0
    assert (got[2]["max_run"], got[2]["looping"]) == (5, 1)
    assert (got[3]["n_runs"], got[3]["repeat_frac"], got[3]["looping"]) == (3, 0.0, 0)

    # NULL event types: boundary must be null-safe (IS DISTINCT FROM
    # semantics, matching the oracle) — NULL,NULL continues one run;
    # a->NULL and NULL->a are changes
    t1 = pd.Timestamp("2025-01-01")
    nrows = [(100 + i, (t1 + pd.Timedelta(seconds=i)).to_pydatetime(), 9, ty)
             for i, ty in enumerate([None, None, "a", None, "a"])]
    ndf = spark.createDataFrame(
        nrows, "event_id long, ts timestamp, user_id long, event_type string")
    g9 = event_run_stats(ndf).collect()[0]
    assert (g9.n_events, g9.n_runs, g9.max_run) == (5, 4, 2)


def test_training_set_job_end_to_end(spark, tmp_path):
    """spark-submit training-set job: five-stage precedence + split —
    near-dup drops the younger twin, off-language and low-quality and
    repetitive docs drop, survivors land under their md5-bucket split
    dir, and the verdict/ report agree. Split labels match hashlib."""
    import hashlib
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.training_set_job import main

    # single occurrence of every 8-token window (no self-repeat), so
    # the span stage passes; stopword-rich for the lang/quality gates
    good = ("the quick brown fox jumps over the lazy dog and that is fine "
            "for the test of this corpus cleaning pipeline today because "
            "the words in that long sentence never come back again for "
            "the rest of it and this is enough text to score well")
    # near-dup of `good` at the char-5-gram level (threshold 0.35) but
    # SPAN-distinct: a unique token every 6th position means no 8-token
    # window is shared with doc 1, so the near_dup stage (not span_dup)
    # is what kills it — and doc 1 survives the span stage
    gw = good.split()
    for _i in range(5, len(gw), 6):
        gw[_i] = f"zz{_i}"
    good2 = " ".join(gw)
    other = ("this second document is about the spark engine and the rollup "
             "tiers that keep the data small for training runs in the lab "
             "plus a tail of new words so that nothing here repeats and "
             "the quality gate still sees enough of the usual stopwords")
    # heavily 2-gram-repetitive but with a UNIQUE token every third
    # position, so no 8-token span ever recurs: survives near-dup,
    # span_dup, lang (the/of vote en), and quality (long + stopword-
    # heavy) — dies exactly at the Gopher repetition gate
    loops = " ".join(f"the of u{i}" for i in range(40))
    # German WITHOUT self-repetition (every word once): passes the
    # span stage, dies at the language gate
    german = ("der hund und die katze ist nicht ein test zu hause aber "
              "das wetter war heute gut und wir gehen morgen zum park")
    rows = [
        (1, good),
        (2, good2),                             # near-dup of 1
        (3, german),
        (4, "the, of. and! is? that; for: in."),
        (5, other),
        (6, loops),
    ]
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id int, text string").write.parquet(in_dir)

    report = main([
        "--input", in_dir, "--output", out_dir, "--write-verdicts",
    ])
    verd = spark.read.parquet(out_dir + "/verdicts").toPandas().set_index("doc_id")
    assert verd.loc[2, "reason"] == "near_dup"
    assert verd.loc[3, "reason"] == "lang"
    assert verd.loc[4, "reason"] == "low_quality"
    assert verd.loc[6, "reason"] == "repetitive"
    assert report["kept"] == 2 and report["input_docs"] == 6
    assert report["dropped_by_reason"]["repetitive"] == 1

    def expect_split(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
        return "train" if b < 9000 else ("val" if b < 9500 else "test")

    kept = spark.read.parquet(out_dir + "/kept").toPandas()
    for _, row in kept.iterrows():
        assert expect_split(row.doc_id) == row.split
    assert sorted(kept.doc_id) == [1, 5]
    assert {verd.loc[i, "split"] for i in (1, 5)} == \
        {expect_split(1), expect_split(5)}
    assert (verd.loc[[2, 3, 4, 6], "split"] == "dropped").all()


def test_psi_by_group_matches_numpy_reference(spark):
    """PSI drift monitor: the Spark dataflow (reference-decile edges,
    value>edge binning, epsilon smoothing) must equal an independent
    numpy implementation exactly; a mean-shifted group scores 'major
    shift' (>0.25) while an unshifted one stays stable (<0.1); groups
    lacking a reference side are dropped."""
    import numpy as np
    from cesium_spark.operators.drift import psi_by_group

    rng = np.random.RandomState(0)
    ref_rows = [("a", float(x)) for x in rng.normal(0, 1, 4000)] \
        + [("b", float(x)) for x in rng.normal(5, 2, 3000)]
    cur_rows = [("a", float(x)) for x in rng.normal(0.5, 1, 3500)] \
        + [("b", float(x)) for x in rng.normal(5, 2, 2500)] \
        + [("only_cur", 1.0)]
    ref = spark.createDataFrame(ref_rows, "event_type string, value double")
    cur = spark.createDataFrame(cur_rows, "event_type string, value double")
    got = {r.event_type: r.asDict() for r in psi_by_group(ref, cur).collect()}

    def psi_np(rv, cv, bins=10, eps=1e-6, rd=6):
        edges = np.round(
            np.quantile(rv, [i / bins for i in range(1, bins)],
                        method="linear") + 1e-9, rd)
        rb = np.array([(v > edges).sum() for v in rv])
        cb = np.array([(v > edges).sum() for v in cv])
        out = 0.0
        for b in range(bins):
            pr = (rb == b).mean() + eps
            pc = (cb == b).mean() + eps
            out += (pc - pr) * np.log(pc / pr)
        return round(out + 1e-9, rd)

    for g in ("a", "b"):
        rv = np.array([v for t, v in ref_rows if t == g])
        cv = np.array([v for t, v in cur_rows if t == g])
        assert got[g]["psi"] == psi_np(rv, cv), g
    assert got["a"]["psi"] > 0.25      # planted 0.5-sigma mean shift
    assert got["b"]["psi"] < 0.1       # same distribution
    assert got["a"]["n_ref"] == 4000 and got["a"]["n_cur"] == 3500
    assert "only_cur" not in got       # no reference edges -> dropped


def test_bigram_logprob_score_hand_example(spark):
    """Add-one bigram LM scoring against a pure-python recompute on a
    tiny corpus: counts, vocabulary smoothing, and the short-doc zero
    convention all come out exactly."""
    import math
    from collections import Counter
    from cesium_spark.operators.lm import bigram_logprob_score

    rows = [(1, "a b a b"), (2, "a b c"), (3, "x"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob)
           for r in bigram_logprob_score(df).collect()}

    toks = {i: t.split() for i, t in rows}
    uni = Counter(w for t in toks.values() for w in t)
    bi = Counter((t[j], t[j + 1]) for t in toks.values()
                 for j in range(len(t) - 1))
    V = len(uni)

    def score(t):
        lps = [math.log((bi[(t[j], t[j + 1])] + 1) / (uni[t[j]] + V))
               for j in range(len(t) - 1)]
        return (len(lps), round(sum(lps) / len(lps) + 1e-9, 6))

    assert got[1] == score(toks[1])
    assert got[2] == score(toks[2])
    assert got[3] == (0, 0.0) and got[4] == (0, 0.0)
    # corpus-typical doc 1 ("a b" seen 3x) outscores the rarer doc 2
    assert got[1][1] > got[2][1]


def test_partition_invariance_of_round5_operators(spark):
    """Round-5 operators must produce identical results at different
    shuffle-partition counts: repetition stats, k-means, hash split,
    run stats, PSI, and the LM scorer (determinism is what the oracles
    and the resume story lean on)."""
    import numpy as np
    from cesium_spark.operators.drift import psi_by_group
    from cesium_spark.operators.kmeans import kmeans_assignments
    from cesium_spark.operators.lm import bigram_logprob_score
    from cesium_spark.operators.runs import event_run_stats
    from cesium_spark.operators.split import hash_split
    from cesium_spark.operators.text import repetition_stats

    rng = np.random.RandomState(2)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(list("abcdefg"), 30))) for i in range(80)],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=6)]) for i in range(60)],
        "vec_id long, embedding array<double>")
    import pandas as pd
    t0 = pd.Timestamp("2025-01-01")
    ev = spark.createDataFrame(
        [(i, (t0 + pd.Timedelta(seconds=i)).to_pydatetime(), i % 5,
          str(rng.choice(list("xyz"))), float(rng.normal()))
         for i in range(400)],
        "event_id long, ts timestamp, user_id long, event_type string, value double")
    ref = ev.filter("event_id < 200")
    cur = ev.filter("event_id >= 200")

    def run():
        return (
            repetition_stats(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            kmeans_assignments(emb, k=3, iters=2).toPandas()
            .sort_values("vec_id").reset_index(drop=True),
            hash_split(docs).select("doc_id", "split").toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            event_run_stats(ev).toPandas()
            .sort_values("user_id").reset_index(drop=True),
            psi_by_group(ref, cur).toPandas()
            .sort_values("event_type").reset_index(drop=True),
            bigram_logprob_score(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    import pandas as pd
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_lm_count_relations_not_forced_broadcast(spark):
    """r5 VERDICT item 10: the bigram⋈unigram join in bigram_logprob_score
    runs on Zipf-skewed w1 and leans on AQE skew-join splitting. The count
    relations (uni/bi) are vocabulary-sized — GBs at corpus scale — so the
    plan must never HINT-broadcast them; the only explicit broadcast allowed
    is the 1-row lazy vocab scalar. With autoBroadcastJoinThreshold=-1 the
    optimizer can only produce a BroadcastExchange from an explicit hint,
    so exactly one in the plan proves it."""
    from cesium_spark.operators.lm import bigram_logprob_score

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(30)],
        "doc_id long, text string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = bigram_logprob_score(docs)._jdf.queryExecution().toString()
        phys = plan.split("== Physical Plan ==")[-1]
        assert phys.count("BroadcastExchange") == 1, phys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ngram_contamination_hand_example(spark):
    """Brown et al. 13-gram decontamination: a training doc sharing a
    13-token window with the test set is flagged with the right span
    count; disjoint and too-short docs are not."""
    from cesium_spark.operators.dedup import ngram_contamination

    leak = "a b c d e f g h i j k l m"  # exactly 13 tokens
    train = spark.createDataFrame(
        [
            (1, f"intro {leak} outro words here"),      # contains the 13-gram
            (2, "totally different text with no overlap at all " * 3),
            (3, "short doc"),                            # < 13 tokens
            (4, leak),                                   # the exact window
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, f"benchmark question: {leak} answer")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_contamination(train, test).collect()}
    assert got[1].contaminated and got[1].contaminated_spans == 1
    assert not got[2].contaminated and got[2].contaminated_spans == 0
    assert not got[3].contaminated and got[3].n_spans == 0
    assert got[4].contaminated and got[4].contaminated_spans == 1
    assert got[1].n_tokens == 17 and got[1].n_spans == 5


def test_corpus_verdict_decontaminate_and_span_remove(spark):
    """The two new optional corpus stages compose: decontamination
    outranks every other reason, and span_action='remove' drops the
    span_dup reason in favor of a clean_text column on survivors that
    equals the standalone remove_duplicate_spans output."""
    from cesium_spark.operators.corpus import corpus_verdict
    from cesium_spark.operators.dedup import remove_duplicate_spans

    leak = " ".join(f"w{i}" for i in range(13))
    good = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs off to the river for a long drink of water today")
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, f"{good} {leak}"),   # would be ok, but leaks the benchmark
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    got = {r.doc_id: r.reason
           for r in corpus_verdict(docs, decontaminate=test).collect()}
    assert got[2] == "contaminated"

    out = corpus_verdict(docs, span_k=8, span_action="remove")
    rows = {r.doc_id: r for r in out.collect()}
    assert "clean_text" in out.columns
    assert set(out.columns) == {"doc_id", "reason", "keep", "clean_text"}
    # no document may die as span_dup under the removal reading
    assert all(r.reason != "span_dup" for r in rows.values())
    want = {r.doc_id: r.clean_text
            for r in remove_duplicate_spans(docs, k=8).collect()}
    for i, r in rows.items():
        if r.keep:
            assert r.clean_text == want[i]
        else:
            assert r.clean_text is None


def test_quality_classifier_matches_numpy_gd(spark):
    """The engine-side logistic-regression trainer must reproduce a pure
    numpy full-batch GD (same hashing, same sampling, same per-round
    rounding) exactly, and map-only scoring must match the numpy
    sigmoid scores to the rounding tolerance."""
    import hashlib

    import numpy as np

    from cesium_spark.operators.quality_clf import (
        score_quality, train_quality_classifier)

    rng = np.random.RandomState(7)
    vocab_good = ["alpha", "beta", "gamma", "delta"]
    vocab_bad = ["zz1", "zz2", "zz3"]
    rows = []
    labels = []
    for i in range(40):
        good = i % 2 == 0
        words = rng.choice(vocab_good if good else vocab_bad, 12)
        rows.append((i, " ".join(words)))
        labels.append((i, 1 if good else 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lab = spark.createDataFrame(labels, "doc_id long, y int")

    D, iters, lr = 16, 4, 5.0
    w = train_quality_classifier(
        docs, lab, n_buckets=D, iters=iters, lr=lr, sample_frac=0.5,
        sample_salt="t")

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % D

    def sampled(i):
        h = hashlib.md5(f"{i}t".encode()).hexdigest()[:8]
        return int(h, 16) % 10000 < 5000

    X, y = [], []
    for (i, text), (_, yy) in zip(rows, labels):
        if not sampled(i):
            continue
        toks = text.lower().split()
        x = np.zeros(D + 1)
        for t in toks:
            x[bucket(t)] += 1.0 / len(toks)
        x[D] = 1.0
        X.append(x)
        y.append(float(yy))
    X, y = np.array(X), np.array(y)
    wref = np.zeros(D + 1)
    for _ in range(iters):
        s = X @ wref
        resid = 1.0 / (1.0 + np.exp(-s)) - y
        grad = X.T @ resid / len(y)
        wref = np.round(wref - lr * grad + 1e-9, 6)
    assert w == list(wref)

    got = {r.doc_id: r.quality_prob
           for r in score_quality(docs, w).collect()}
    for i, text in rows:
        toks = text.lower().split()
        s = sum(wref[bucket(t)] for t in toks) / len(toks) + wref[D]
        want = round(1.0 / (1.0 + np.exp(-s)) + 1e-9, 6)
        assert abs(got[i] - want) < 2e-6
    # the classifier actually separates the classes
    good_m = np.mean([got[i] for i in range(0, 40, 2)])
    bad_m = np.mean([got[i] for i in range(1, 40, 2)])
    assert good_m > bad_m + 0.1


def test_redact_pii_sequential_semantics(spark):
    """Sequential typed redaction: each type's count is taken on the
    text as-of its turn, so a numeric mail domain is consumed by the
    email pass and never re-flagged as an IP, and placeholder tokens
    from earlier passes are invisible to later patterns."""
    from cesium_spark.operators.pii import redact_pii

    rows = [
        # email whose domain looks like an ipv4 — must count as email
        # only (the ip pass sees '<EMAIL>', not digits)
        (1, "send to bob@10.0.0.1.example.com today"),
        (2, "ssn 123-45-6789 phone 555 123-4567 ip 192.168.0.1"),
        (3, "nothing sensitive here"),
        (4, None),
        # ssn shape wins over phone shape (3-2-4 runs first and
        # consumes; remaining 3-3-4 still matches phone)
        (5, "123-45-6789 and 123-456-7890"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].n_email == 1 and got[1].n_ipv4 == 0
    assert "<EMAIL>" in got[1].redacted_text
    assert (got[2].n_ssn, got[2].n_phone, got[2].n_ipv4) == (1, 1, 1)
    assert got[2].redacted_text == "ssn <SSN> phone <PHONE> ip <IPV4>"
    assert got[3].n_pii == 0 and got[3].redacted_text == rows[2][1]
    assert got[4].redacted_text is None and got[4].n_pii == 0
    assert (got[5].n_ssn, got[5].n_phone) == (1, 1)


def test_dedup_lines_keeper_and_rebuild(spark):
    """CCNet line dedup: corpus-duplicated lines survive only at their
    (doc_id, line_no)-first occurrence, matching is case-insensitive
    after trim, blank lines are never dup-candidates, and the rebuild
    preserves original line order."""
    from cesium_spark.operators.dedup import dedup_lines

    rows = [
        (1, "Cookie Banner\nalpha body\n\nfooter"),
        (2, "cookie banner \nbeta body\nfooter"),
        (3, "unique page"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_lines(df).collect()}
    # doc 1 keeps everything (first occurrence of banner and footer)
    assert got[1].clean_text == "Cookie Banner\nalpha body\n\nfooter"
    assert (got[1].n_lines, got[1].n_kept) == (4, 4)
    # doc 2 loses both boilerplate lines (banner matches case/trim-
    # insensitively), keeps its body
    assert got[2].clean_text == "beta body"
    assert (got[2].n_lines, got[2].n_kept) == (3, 1)
    assert abs(got[2].removed_frac - round(2 / 3 + 1e-9, 6)) < 1e-12
    assert got[3].clean_text == "unique page"
    assert got[4].clean_text is None and got[4].n_lines is None


def test_source_mix_copy_counts(spark):
    """Fractional-epoch oversampling: integral weights give exact copy
    counts, fractional weights give floor(w) or floor(w)+1 with the
    md5-bucket fraction, weight 0 drops the source, and the decision is
    a pure function of (id, salt) — growth-stable."""
    from cesium_spark.operators.split import source_mix

    df = spark.createDataFrame(
        [(i, "a" if i < 400 else ("b" if i < 800 else "z"))
         for i in range(1200)],
        "doc_id long, source string")
    out = source_mix(df, {"a": 2.0, "b": 0.5, "z": 0.0}).toPandas()
    a = out[out.source == "a"].n_copies
    b = out[out.source == "b"].n_copies
    z = out[out.source == "z"].n_copies
    assert (a == 2).all() and (z == 0).all()
    assert set(b.unique()) <= {0, 1}
    assert 0.3 < b.mean() < 0.7  # ~half the fractional source survives
    # growth-stable: the same ids decide the same way in a bigger corpus
    df2 = spark.createDataFrame(
        [(i, "b") for i in range(2400)], "doc_id long, source string")
    out2 = source_mix(df2, {"b": 0.5}).toPandas().set_index("doc_id")
    merged = out[out.source == "b"].set_index("doc_id").join(
        out2, rsuffix="_big")
    assert (merged.n_copies == merged.n_copies_big).all()
    import pytest as _pytest
    with _pytest.raises(Exception):
        source_mix(df, {"a": -1.0}).collect()


def test_perplexity_buckets_are_value_consistent(spark):
    """Head/middle/tail labels must agree with cutoffs recomputed from
    the emitted scores per group: every head score >= every middle
    score >= every tail score within a language, and all three buckets
    are populated on a spread corpus."""
    import numpy as np
    from cesium_spark.operators.lm import perplexity_buckets

    rng = np.random.RandomState(5)
    rows = []
    for i in range(90):
        lang = "en" if i % 2 == 0 else "de"
        # vary typicality: low-i docs reuse a tiny vocabulary (high
        # bigram probability), high-i docs draw from a wide one
        vocab = list("ab") if i < 30 else [f"w{j}" for j in range(50)]
        rows.append((i, lang, " ".join(rng.choice(vocab, 25))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(df, group_col="lang").toPandas()
    assert len(out) == 90 and set(out.bucket) == {"head", "middle", "tail"}
    for lang, grp in out.groupby("lang"):
        heads = grp[grp.bucket == "head"].avg_logprob
        mids = grp[grp.bucket == "middle"].avg_logprob
        tails = grp[grp.bucket == "tail"].avg_logprob
        if len(heads) and len(mids):
            assert heads.min() >= mids.max() - 1e-12
        if len(mids) and len(tails):
            assert mids.min() > tails.max()


def test_semdedup_within_cluster_only(spark):
    """SemDeDup's core approximation: duplicate groups form only WITHIN
    a k-means cell. Planted twins in each of two cells group with the
    min-id keeper; a vector whose DIRECTION matches another cell's
    members (cosine 1.0) but whose magnitude lands it elsewhere stays a
    singleton — cross-cluster near-dups are invisible by design."""
    from cesium_spark.operators.semdedup import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 50.0]),
        (3, [1.01, 0.001]),   # twin of 1, same cell
        (4, [0.5, 50.0]),     # twin of 2, same cell
        (5, [30.0, 8.0]),     # same cell as 1, cosine 0.966 < thr
        (6, [0.0, 0.5]),      # cosine 1.0 with 2/4 but lands in cell 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semdedup(df, k=2, iters=2, threshold=0.999).collect()}
    assert out[3].group_id == 1 and not out[3].is_keeper
    assert out[1].group_id == 1 and out[1].is_keeper
    assert out[4].group_id == 2 and not out[4].is_keeper
    assert out[2].group_id == 2 and out[2].is_keeper
    assert out[5].group_id == 5 and out[5].is_keeper
    # the cross-cluster look-alike survives as its own group
    assert out[6].group_id == 6 and out[6].is_keeper
    assert out[6].cluster != out[2].cluster


def test_partition_invariance_of_round6_operators(spark):
    """Round-6 operators are deterministic under repartitioning: PII
    redaction, line dedup, source mixing, perplexity buckets, and
    SemDeDup give identical frames at 3 and 17 shuffle partitions."""
    import numpy as np
    import pandas as pd
    from cesium_spark.operators.dedup import dedup_lines
    from cesium_spark.operators.lm import perplexity_buckets
    from cesium_spark.operators.pii import redact_pii
    from cesium_spark.operators.semdedup import semdedup
    from cesium_spark.operators.split import source_mix

    rng = np.random.RandomState(7)
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de", f"src{i % 4}",
          "\n".join(" ".join(rng.choice(list("abcdef"), 8))
                    for _ in range(3)) + f"\ncall 555 123-{1000 + i:04d}")
         for i in range(60)],
        "doc_id long, lang string, source string, text string")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=5)]) for i in range(40)],
        "vec_id long, embedding array<double>")

    def run():
        return (
            redact_pii(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            dedup_lines(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            source_mix(docs, {"src0": 1.5, "src1": 0.25}).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            perplexity_buckets(docs, group_col="lang").toPandas()
            .sort_values("doc_id").reset_index(drop=True),
            semdedup(emb, k=3, iters=2, threshold=0.9).toPandas()
            .sort_values("vec_id").reset_index(drop=True),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_pack_sequences_concat_and_cut(spark):
    """Packing plan semantics: within a shard, documents concatenate in
    id order and cut at the budget — offsets chain (prev offset + prev
    n_tokens) mod budget, seq_id is the running-total div, and long
    documents straddle boundaries; budget<=0 raises."""
    import pytest as _pytest
    from cesium_spark.operators.pack import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(1, 3), (2, 5), (3, 9), (4, 2), (5, 7), (6, 40)]],
        "doc_id long, text string")
    out = pack_sequences(docs, budget=8, n_shards=2).toPandas() \
        .sort_values("doc_id").set_index("doc_id")
    assert (out.groupby("shard").size() >= 1).all()
    for _, grp in out.reset_index().sort_values("doc_id").groupby("shard"):
        cum = 0
        for _, r in grp.iterrows():
            assert r.seq_id == cum // 8
            assert r.tok_offset == cum % 8
            cum += r.n_tokens
    # the 40-token doc spans >= 5 sequences; its successor (if any in
    # the same shard) starts 40 tokens later
    assert out.loc[6].n_tokens == 40
    with _pytest.raises(ValueError):
        pack_sequences(docs, budget=0)


def test_corpus_verdict_ppl_tail_stage(spark):
    """The CCNet tercile stage composes last: documents failing an
    earlier stage keep their earlier reason, only 'ok' survivors in the
    tail bucket become ppl_tail, and the stage is absent when not
    requested."""
    from cesium_spark.operators.corpus import corpus_verdict
    from cesium_spark.operators.lm import perplexity_buckets

    import numpy as np
    rng = np.random.RandomState(11)
    stop = "the and of to in is that for"
    rows = []
    for i in range(40):
        # typical docs reuse a common vocabulary; atypical ones are
        # unique-word soup (tail of the perplexity distribution)
        vocab = (list("abcdefgh") if i < 30
                 else [f"z{i}_{j}" for j in range(20)])
        rows.append((i, "en", f"{stop} " + " ".join(rng.choice(vocab, 40))))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    base = {r.doc_id: r.reason for r in
            corpus_verdict(docs, repetition=False).collect()}
    with_ppl = {r.doc_id: r.reason for r in
                corpus_verdict(docs, repetition=False,
                               ppl_tail_group="lang").collect()}
    buckets = {r.doc_id: r.bucket for r in
               perplexity_buckets(docs, group_col="lang").collect()}
    assert "ppl_tail" not in set(base.values())
    for i, reason in with_ppl.items():
        if base[i] != "ok":
            assert reason == base[i]  # earlier stages unperturbed
        elif buckets[i] == "tail":
            assert reason == "ppl_tail"
        else:
            assert reason == "ok"
    assert "ppl_tail" in set(with_ppl.values())


def test_acf_lags_matches_numpy(spark):
    """acf_lags == the Box-Jenkins sample ACF (full-series mean/variance
    denominator) computed independently with numpy."""
    from cesium_spark.operators.tsstats import acf_lags

    rng = np.random.RandomState(11)
    rows = []
    series = {}
    for uid in (1, 2):
        x = np.cumsum(rng.normal(size=40)) if uid == 1 else rng.normal(size=7)
        series[uid] = x
        for i, v in enumerate(x):
            rows.append((uid, float(i), int(i), float(v)))
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double"
    )
    out = acf_lags(df, ts_col="ts", max_lag=5).toPandas()

    for uid, x in series.items():
        m = x.mean()
        den = ((x - m) ** 2).sum()
        for L in range(1, 6):
            got = out[(out.user_id == uid) & (out.lag == L)].iloc[0]
            n_pairs = max(len(x) - L, 0)
            assert got.n_pairs == n_pairs
            want = ((x[:-L] - m) * (x[L:] - m)).sum() / den
            assert abs(got.acf - round(want + 1e-9, 6)) < 1e-9, (uid, L)


def test_cusum_changepoint_finds_level_shift(spark):
    """A planted mean shift maximizes |S_t| at the shift boundary; the
    statistic matches the numpy replay exactly."""
    from cesium_spark.operators.tsstats import cusum_changepoint

    rng = np.random.RandomState(5)
    x = np.concatenate([rng.normal(0, 0.2, 30), rng.normal(3, 0.2, 30)])
    rows = [(7, float(i), int(i), float(v)) for i, v in enumerate(x)]
    # plus a constant series: zero variance -> NULL cp
    rows += [(8, float(i), int(i), 1.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double"
    )
    out = cusum_changepoint(df, ts_col="ts").toPandas().set_index("user_id")

    s = np.cumsum(x - x.mean())
    want_pos = int(np.argmax(np.abs(s))) + 1
    assert out.loc[7, "cp_pos"] == want_pos
    assert abs(want_pos - 30) <= 1  # the shift boundary
    want_stat = round(
        np.abs(s).max() / (x.std(ddof=1) * np.sqrt(len(x))) + 1e-9, 6
    )
    assert out.loc[7, "cp_stat"] == want_stat
    assert np.isnan(out.loc[8, "cp_stat"]) and np.isnan(out.loc[8, "cp_pos"])


def test_rolling_zscore_flags_planted_spike(spark):
    """Only the planted spike is flagged, with the causal trailing-window
    z-score numpy would compute."""
    from cesium_spark.operators.tsstats import rolling_zscore_anomalies

    rng = np.random.RandomState(9)
    x = rng.normal(10, 1.0, 50)
    x[30] = 25.0  # the anomaly
    rows = [(1, float(i), int(i), float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double"
    )
    out = rolling_zscore_anomalies(
        df, ts_col="ts", window=20, min_points=5, threshold=3.0
    ).toPandas().set_index("event_id")

    # independent numpy replay over every point
    want = {}
    for i in range(len(x)):
        base = x[max(0, i - 20):i]
        if len(base) < 5:
            continue
        sd = base.std(ddof=1)
        if sd <= 0:
            continue
        z = round((x[i] - base.mean()) / sd + 1e-9, 6)
        if abs(z) > 3.0:
            want[i] = (len(base), z)
    assert 30 in want  # the planted spike is among the flags
    assert dict(zip(out.index, zip(out.n_base, out.z))) == want
    assert out.loc[30, "n_base"] == 20


def test_temperature_mix_weights_and_determinism(spark):
    """alpha=1 reproduces the natural distribution (all weights 1);
    alpha<1 up-weights the rare group by the closed-form factor; copy
    counts are a pure function of (id, salt)."""
    from cesium_spark.operators.split import temperature_mix

    rows = [(i, "en") for i in range(90)] + [(90 + i, "fr") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    flat = temperature_mix(df, alpha=1.0).toPandas()
    assert (flat.weight == 1.0).all() and (flat.n_copies == 1).all()

    out = temperature_mix(df, alpha=0.5).toPandas()
    z = 90 ** 0.5 + 10 ** 0.5
    for g, c in (("en", 90), ("fr", 10)):
        want = round(100 * c ** (-0.5) / z + 1e-9, 6)
        assert (out[out.lang == g].weight == want).all()
    fr = out[out.lang == "fr"]
    assert (fr.n_copies >= 2).all()  # w_fr ≈ 2.66: every fr doc >= 2 copies
    frac = float(fr.weight.iloc[0]) % 1
    assert abs(fr.n_copies.mean() - fr.weight.iloc[0]) < max(
        0.5, 3 * np.sqrt(frac * (1 - frac) / len(fr))
    )
    again = temperature_mix(df, alpha=0.5).toPandas()
    assert (out.sort_values("doc_id").n_copies.values
            == again.sort_values("doc_id").n_copies.values).all()


def test_bm25_topk_hand_example(spark):
    """BM25 scores match an independent numpy computation on a 4-doc
    corpus; ranking is deterministic."""
    from cesium_spark.operators.text import bm25_topk

    docs = [
        (1, "spark shuffle join join"),
        (2, "hash join"),
        (3, "window sort merge"),
        (4, "the quick brown fox"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bm25_topk(df, query=["join", "hash"], k=4).toPandas()

    toks = {i: t.split() for i, t in docs}
    N = 4
    avgdl = sum(len(t) for t in toks.values()) / N
    import math

    def score(i):
        s = 0.0
        for term in ("hash", "join"):  # sorted order
            tf = toks[i].count(term)
            if tf == 0:
                continue
            dfr = sum(1 for t in toks.values() if term in t)
            idf = math.log(1.0 + (N - dfr + 0.5) / (dfr + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[i]) / avgdl))
        return round(s + 1e-9, 6)

    want = sorted(
        [(i, score(i)) for i in toks if score(i) > 0],
        key=lambda p: (-p[1], p[0]),
    )
    got = list(zip(out.doc_id, out.score))
    assert got == want
    assert list(out["rank"]) == list(range(1, len(want) + 1))
    assert set(out.columns) == {"rank", "doc_id", "n_hit_terms", "score"}


def test_dsir_select_prefers_target_like_docs(spark):
    """Documents phrased like the target corpus get higher importance
    weights than background-only docs, and the cutoff keeps ~keep_frac."""
    from cesium_spark.operators.lm import dsir_select

    target_phrases = "good clean prose flows here"
    noise_phrases = "zz qq xx vv ww"
    rows = []
    for i in range(20):
        rows.append((i, target_phrases, "tgt"))
    for i in range(20, 60):
        rows.append((i, noise_phrases + f" tok{i}", "raw"))
    for i in range(60, 80):
        rows.append((i, target_phrases + " indeed", "raw"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = df.filter("source = 'tgt'")
    out = dsir_select(df, target, keep_frac=0.5).toPandas()

    exact = out[out.doc_id < 20]
    tgt_like = out[(out.doc_id >= 60)]
    noise = out[(out.doc_id >= 20) & (out.doc_id < 60)]
    assert exact.weight.min() >= tgt_like.weight.max() > noise.weight.max()
    assert exact.selected.all() and tgt_like.selected.all()
    assert not noise.selected.any()
    # docs with <2 tokens score 0 under both models
    assert (out.n_bigrams > 0).all()


def test_series_trend_exact_line_and_degenerates(spark):
    """A noiseless line recovers slope/intercept/r2 exactly; a
    single-point series and a zero-time-variance series yield NULLs."""
    from cesium_spark.operators.tsstats import series_trend

    rows = []
    for i in range(10):  # numeric ts: y = 2.5 t + 7
        rows.append((1, float(i), 2.5 * i + 7.0))
    rows.append((2, 4.0, 11.0))  # single point
    rows += [(3, 5.0, 1.0), (3, 5.0, 9.0)]  # zero time variance
    df = spark.createDataFrame(rows, "user_id int, ts double, value double")
    out = series_trend(df).toPandas().set_index("user_id")
    assert out.loc[1, "slope_per_day"] == 2.5
    assert out.loc[1, "intercept"] == 7.0
    assert out.loc[1, "r2"] == 1.0
    assert out.loc[1, "n"] == 10
    assert np.isnan(out.loc[2, "slope_per_day"])
    assert np.isnan(out.loc[3, "slope_per_day"])


def test_series_trend_timestamp_rebase(spark):
    """With a timestamp axis and t0, slope is per DAY and the intercept
    is the fitted value AT t0."""
    import datetime as dt

    from cesium_spark.operators.tsstats import series_trend

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(days=k), 3.0 * k + 10.0) for k in range(6)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = series_trend(df, t0="2024-01-01").toPandas().set_index("user_id")
    assert out.loc[1, "slope_per_day"] == 3.0
    assert out.loc[1, "intercept"] == 10.0
    assert out.loc[1, "r2"] == 1.0


def test_hod_profile_buckets_and_moments(spark):
    """(dow, hour) cells land where the calendar says (2024-01-07 was a
    Sunday -> dow 0) with exact count/mean/sample-std."""
    import datetime as dt

    from cesium_spark.operators.tsstats import hod_profile

    sun13 = dt.datetime(2024, 1, 7, 13, 5)   # Sunday 13:xx
    mon02 = dt.datetime(2024, 1, 8, 2, 30)   # Monday 02:xx
    rows = [
        (1, sun13, 4.0), (1, sun13 + dt.timedelta(minutes=10), 8.0),
        (1, mon02, 5.0),
        (2, sun13, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = hod_profile(df).toPandas().set_index(["user_id", "dow", "hour"])
    assert out.loc[(1, 0, 13), "n"] == 2
    assert out.loc[(1, 0, 13), "mean"] == 6.0
    assert out.loc[(1, 0, 13), "std"] == round(np.std([4.0, 8.0], ddof=1) + 1e-9, 6)
    assert out.loc[(1, 1, 2), "n"] == 1
    assert np.isnan(out.loc[(1, 1, 2), "std"])  # single sample
    assert out.loc[(2, 0, 13), "mean"] == 7.0
    assert len(out) == 3


def test_c4_line_filter_rules_and_precedence(spark):
    """Every page reason and every line rule fires where the C4 paper
    says it should, with the discard precedence bad_words > lorem_ipsum
    > code > too_few_lines."""
    from cesium_spark.operators.text import c4_line_filter

    good1 = "Here is a perfectly reasonable first sentence."
    good2 = "And a second sentence with more than five words!"
    short_line = "Too short."                       # <5 words
    no_punct = "this line has five words but no terminal punctuation"
    js_line = "Please enable JavaScript to continue reading this."
    pages = [
        (0, "\n".join([good1, good2])),                       # ok
        (1, "\n".join([good1, good2, "with a badword here."])),  # bad_words
        (2, "\n".join([good1, "lorem ipsum text.", good2])),  # lorem_ipsum
        (3, "\n".join([good1, good2, "code { brace }"])),     # code
        (4, "\n".join([good1, short_line, no_punct, js_line])),  # 1 kept
        (5, "\n".join([good1, good2, "lorem ipsum and a badword."])),  # precedence
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string")
    out = c4_line_filter(df, min_words_per_line=5, min_lines=2) \
        .toPandas().set_index("doc_id")

    assert out.loc[0, "reason"] == "ok" and bool(out.loc[0, "keep"])
    assert out.loc[0, "clean_text"] == good1 + "\n" + good2
    assert out.loc[0, "n_lines"] == 2 and out.loc[0, "n_kept"] == 2
    assert out.loc[1, "reason"] == "bad_words"
    assert out.loc[2, "reason"] == "lorem_ipsum"
    assert out.loc[3, "reason"] == "code"
    assert out.loc[4, "reason"] == "too_few_lines"
    assert out.loc[4, "n_kept"] == 1  # short/no-punct/js lines all died
    assert out.loc[5, "reason"] == "bad_words"  # precedence over lorem
    assert out.loc[4, "clean_text"] is None or (
        isinstance(out.loc[4, "clean_text"], float)
    )
    assert not out.loc[1:, "keep"].any()


def test_partition_invariance_of_final_round6_operators(spark):
    """series_trend, hod_profile, and c4_line_filter give identical
    frames at 3 and 17 shuffle partitions (rounded-value determinism
    survives different partial-aggregation orders)."""
    import datetime as dt

    import pandas as pd

    from cesium_spark.operators.text import c4_line_filter
    from cesium_spark.operators.tsstats import hod_profile, series_trend

    rng = np.random.RandomState(11)
    t0 = dt.datetime(2024, 2, 1)
    ev = spark.createDataFrame(
        [(i % 7, t0 + dt.timedelta(hours=float(h)), float(v))
         for i, (h, v) in enumerate(zip(rng.uniform(0, 500, 400),
                                        rng.normal(50, 10, 400)))],
        "user_id long, ts timestamp, value double")
    docs = spark.createDataFrame(
        [(i, "A good long sentence with several words here.\n"
             + ("lorem ipsum line." if i % 5 == 0 else "Another fine sentence with enough words too."))
         for i in range(40)],
        "doc_id long, text string")

    def run():
        return (
            series_trend(ev, t0="2024-02-01").toPandas()
            .sort_values("user_id").reset_index(drop=True),
            hod_profile(ev).toPandas()
            .sort_values(["user_id", "dow", "hour"]).reset_index(drop=True),
            c4_line_filter(docs, min_lines=2).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_funnel_conversion_strict_ordering(spark):
    """First-matching-subsequence semantics: steps must occur strictly
    after the previous match by (ts, tiebreak); same-event reuse is
    forbidden; out-of-order occurrences don't count; ties on ts break
    by the tiebreak id."""
    from cesium_spark.operators.funnel import funnel_conversion

    rows = [
        # user 1 converts: view(1) click(3) purchase(5); the earlier
        # purchase(0) must NOT count (it precedes the view)
        (1, 0.0, 0, "purchase"), (1, 1.0, 1, "view"), (1, 2.0, 2, "view"),
        (1, 3.0, 3, "click"), (1, 5.0, 5, "purchase"),
        # user 2 stalls at click (purchase only before the click)
        (2, 1.0, 1, "view"), (2, 2.0, 2, "purchase"), (2, 3.0, 3, "click"),
        # user 3 never views
        (3, 1.0, 1, "click"), (3, 2.0, 2, "purchase"),
        # user 4: ts tie — click shares ts with view but has larger id,
        # so it IS strictly after
        (4, 1.0, 1, "view"), (4, 1.0, 2, "click"), (4, 9.0, 3, "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, float(t), i, ty) for u, t, i, ty in rows],
        "user_id int, ts double, event_id int, event_type string")
    out = funnel_conversion(
        df, ["view", "click", "purchase"]
    ).toPandas().set_index("user_id")
    assert out.loc[1, "steps_reached"] == 3 and bool(out.loc[1, "converted"])
    assert out.loc[1, "seconds_to_convert"] == 4.0  # view@1s -> purchase@5s
    assert out.loc[2, "steps_reached"] == 2 and not bool(out.loc[2, "converted"])
    assert np.isnan(out.loc[2, "seconds_to_convert"])
    assert out.loc[3, "steps_reached"] == 0
    assert pd.isna(out.loc[3, "t_first"])
    assert out.loc[4, "steps_reached"] == 3
    assert len(out) == 4


def test_drawdown_stats_hand_series(spark):
    """Running-peak arithmetic on a hand series: 10 12 7 11 5 13 ->
    max_drawdown = 12-5 = 7, max_drawup = 13-5 = 8, net +3."""
    from cesium_spark.operators.tsstats import drawdown_stats

    vals = [10.0, 12.0, 7.0, 11.0, 5.0, 13.0]
    df = spark.createDataFrame(
        [(1, float(i), i, v) for i, v in enumerate(vals)],
        "user_id int, ts double, event_id int, value double")
    out = drawdown_stats(df).toPandas().set_index("user_id")
    assert out.loc[1, "peak"] == 13.0 and out.loc[1, "trough"] == 5.0
    assert out.loc[1, "max_drawdown"] == 7.0
    assert out.loc[1, "max_drawup"] == 8.0
    assert out.loc[1, "net_change"] == 3.0
    assert out.loc[1, "n"] == 6


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule fires on a crafted doc, in the paper's
    precedence order."""
    from cesium_spark.operators.text import gopher_quality_filter

    base = ("the data and that have to be of good quality with care "
            "plus several more ordinary words to clear the minimum bar "
            "for this little page indeed truly")  # 30 words, stopwordy
    docs = [
        (0, base),                                     # ok
        (1, "tiny doc"),                               # too_few_words
        (2, base + " " + "x " * 40),                   # mean word len < 3
        (3, base + " " + "# " * 10),                   # symbol ratio
        (4, "\n".join(["• " + base] * 10)),            # bullet wall
        (5, base + "\nmore trailing thoughts here..." * 1
             + "\nanother trailing line..."),          # ellipsis lines
        (6, base + " " + "12345 " * 30),               # non-alpha flood
        (7, ("word " * 30).strip()),                   # no stopwords
    ]
    out = gopher_quality_filter(
        spark.createDataFrame(docs, "doc_id long, text string"),
        min_words=20, max_words=10_000, max_bullet_frac=0.7,
        max_ellipsis_frac=0.3,
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "reason"] == "ok" and bool(out.loc[0, "keep"])
    assert out.loc[1, "reason"] == "too_few_words"
    assert out.loc[2, "reason"] == "word_length"
    assert out.loc[3, "reason"] == "symbol_ratio"
    assert out.loc[4, "reason"] == "bullet_lines"
    assert out.loc[5, "reason"] == "ellipsis_lines"
    assert out.loc[6, "reason"] == "non_alpha_words"
    assert out.loc[7, "reason"] == "stopwords"
    assert out.loc[0, "n_stop_hits"] >= 2
    assert not out.loc[1:, "keep"].any()


def test_burst_stats_range_window(spark):
    """Trailing (t-W, t] burst counts: three events inside one 10 s
    window peak at 3; an event exactly W seconds before is OUTSIDE the
    half-open frame; peak ties break to the earliest timestamp."""
    import datetime as dt

    from cesium_spark.operators.tsstats import burst_stats

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, at(0)), (1, at(4)), (1, at(9)),      # burst 3 at t=9
        (1, at(19)),                             # t=9 is 10 s earlier -> excluded
        (2, at(0)), (2, at(5)), (2, at(100)), (2, at(105)),  # two bursts of 2
    ]
    df = spark.createDataFrame(
        [(u, t, 1.0) for u, t in rows],
        "user_id int, ts timestamp, value double")
    out = burst_stats(df, window_seconds=10).toPandas().set_index("user_id")
    assert out.loc[1, "max_burst"] == 3
    assert out.loc[1, "t_peak"] == at(9)
    assert out.loc[2, "max_burst"] == 2
    # tie between the burst ending at t=5 and at t=105 -> earliest wins
    assert out.loc[2, "t_peak"] == at(5)
    assert out.loc[1, "n"] == 4
    # bursts for user 1: [1,2,3,1] -> mean 1.75
    assert out.loc[1, "mean_burst"] == 1.75


def test_coverage_report_days_and_hours(spark):
    """Distinct active hours per calendar day, coverage = hours/24."""
    import datetime as dt

    from cesium_spark.operators.tsstats import coverage_report

    d1, d2 = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 2)
    rows = [
        (1, d1 + dt.timedelta(hours=3, minutes=5)),
        (1, d1 + dt.timedelta(hours=3, minutes=50)),   # same hour
        (1, d1 + dt.timedelta(hours=7)),
        (1, d2 + dt.timedelta(hours=0)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = coverage_report(df).toPandas().set_index(["user_id", "day"])
    assert out.loc[(1, d1), "n_events"] == 3
    assert out.loc[(1, d1), "hours_active"] == 2
    assert out.loc[(1, d1), "coverage"] == round(2 / 24.0 + 1e-9, 6)
    assert out.loc[(1, d2), "hours_active"] == 1


def test_winsorize_series_clips_to_quantiles(spark):
    """Values outside the per-series rounded [lower, upper] quantiles
    are clipped and flagged; interior values pass through."""
    from cesium_spark.operators.tsstats import winsorize_series

    vals = list(range(1, 100)) + [1000.0]  # one huge outlier
    df = spark.createDataFrame(
        [(1, float(i), i, float(v)) for i, v in enumerate(vals)],
        "user_id int, ts double, event_id int, value double")
    out = winsorize_series(df, lower=0.01, upper=0.95).toPandas() \
        .set_index("event_id")
    lo = round(np.percentile(vals, 1, method="linear") + 1e-9, 6)
    hi = round(np.percentile(vals, 95, method="linear") + 1e-9, 6)
    assert out.loc[99, "value"] == 1000.0
    assert out.loc[99, "value_w"] == hi and bool(out.loc[99, "clipped"])
    assert out.loc[0, "value_w"] == lo and bool(out.loc[0, "clipped"])
    mid = out.loc[50]
    assert mid["value_w"] == mid["value"] and not bool(mid["clipped"])
    assert out["clipped"].sum() == int((np.array(vals) < lo).sum()
                                       + (np.array(vals) > hi).sum())


def test_partition_invariance_of_monitoring_operators(spark):
    """funnel, drawdown, burst, coverage, winsorize, and the Gopher
    filter are deterministic under repartitioning (3 vs 17 shuffle
    partitions)."""
    import datetime as dt

    import pandas as pd

    from cesium_spark.operators.funnel import funnel_conversion
    from cesium_spark.operators.text import gopher_quality_filter
    from cesium_spark.operators.tsstats import (
        burst_stats, coverage_report, drawdown_stats, winsorize_series,
    )

    rng = np.random.RandomState(23)
    t0 = dt.datetime(2024, 4, 1)
    types = ["view", "click", "purchase", "error"]
    ev = spark.createDataFrame(
        [(i % 9, t0 + dt.timedelta(seconds=float(s)), i,
          float(v), types[i % 4])
         for i, (s, v) in enumerate(zip(rng.uniform(0, 86400 * 3, 500),
                                        rng.normal(100, 20, 500)))],
        "user_id long, ts timestamp, event_id long, value double, "
        "event_type string")
    docs = spark.createDataFrame(
        [(i, ("the data and that have to be of good words here " * (i % 3 + 1)
              + ("### " * 8 if i % 5 == 0 else "")))
         for i in range(40)],
        "doc_id long, text string")

    def run():
        return (
            funnel_conversion(ev, ["view", "click", "purchase"]).toPandas()
            .sort_values("user_id").reset_index(drop=True),
            drawdown_stats(ev).toPandas()
            .sort_values("user_id").reset_index(drop=True),
            burst_stats(ev, window_seconds=3600).toPandas()
            .sort_values("user_id").reset_index(drop=True),
            coverage_report(ev).toPandas()
            .sort_values(["user_id", "day"]).reset_index(drop=True),
            winsorize_series(ev, lower=0.1, upper=0.9).toPandas()
            .sort_values("event_id").reset_index(drop=True),
            gopher_quality_filter(docs, min_words=10).toPandas()
            .sort_values("doc_id").reset_index(drop=True),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r3 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r17 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for x, y in zip(r3, r17):
        pd.testing.assert_frame_equal(x, y)


def test_normalize_text_nfc_lower_collapse(spark):
    """Decomposed accents compose, precomposed stay, case folds,
    whitespace runs collapse, NULL-safe."""
    from cesium_spark.operators.text import normalize_text

    decomposed = "Café"          # e + COMBINING ACUTE (5 cp)
    composed = "Café"             # é (4 cp)
    docs = [
        (0, f"  {decomposed}   AU  LAIT "),
        (1, composed),
        (2, "no\tchange needed"),
        (3, None),
    ]
    out = normalize_text(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "text_norm"] == "café au lait"
    assert out.loc[0, "n_chars_before"] == len(f"  {decomposed}   AU  LAIT ")
    assert out.loc[0, "n_chars_after"] == len("café au lait")
    assert bool(out.loc[0, "changed"])
    assert out.loc[1, "text_norm"] == "café" and bool(out.loc[1, "changed"])
    assert out.loc[2, "text_norm"] == "no change needed"
    assert out.loc[3, "text_norm"] is None or pd.isna(out.loc[3, "text_norm"])


def test_script_profile_classes_and_dominance(spark):
    """Class fractions are codepoint-exact and the dominant script
    follows the fixed precedence."""
    from cesium_spark.operators.text import script_profile

    docs = [
        (0, "hello world"),            # latin
        (1, "Привет мир"),             # cyrillic
        (2, "中文文本"),                # cjk
        (3, "12345"),                  # digits only -> none
        (4, "abc где"),                # tie latin==cyrillic -> latin wins
        (5, ""),
    ]
    out = script_profile(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "main_script"] == "latin"
    assert out.loc[0, "latin_frac"] == round(10 / 11 + 1e-9, 6)
    assert out.loc[0, "ws_frac"] == round(1 / 11 + 1e-9, 6)
    assert out.loc[1, "main_script"] == "cyrillic"
    assert out.loc[1, "cyrillic_frac"] == round(9 / 10 + 1e-9, 6)
    assert out.loc[2, "main_script"] == "cjk" and out.loc[2, "cjk_frac"] == 1.0
    assert out.loc[3, "main_script"] == "none"
    assert out.loc[3, "digit_frac"] == 1.0
    assert out.loc[4, "main_script"] == "latin"
    assert out.loc[5, "main_script"] == "none" and out.loc[5, "n_chars"] == 0


def test_seasonal_decompose_matches_numpy_replay(spark):
    """The bucket / time-range trend / hour-of-day seasonal chain
    equals an independent numpy replay on an irregular series, and the
    identity value == trend + seasonal + resid holds after rounding."""
    import datetime as dt

    from cesium_spark.operators.tsstats import seasonal_decompose

    rng = np.random.RandomState(31)
    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for i in range(300):
        ts = t0 + dt.timedelta(minutes=float(rng.uniform(0, 72 * 60)))
        v = 10.0 + 3.0 * np.sin(2 * np.pi * ts.hour / 24) + rng.normal(0, 0.5)
        rows.append((1, ts, float(v)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = seasonal_decompose(df).toPandas().sort_values("hour_bucket") \
        .reset_index(drop=True)

    # numpy replay
    import collections
    buckets = collections.defaultdict(list)
    for _, ts, v in rows:
        buckets[ts.replace(minute=0, second=0, microsecond=0)].append(v)
    hbs = sorted(buckets)
    y = {h: float(np.mean(buckets[h])) for h in hbs}
    trend = {}
    for h in hbs:
        lo, hi = h - dt.timedelta(hours=12), h + dt.timedelta(hours=12)
        vals = [y[g] for g in hbs if lo <= g <= hi]
        trend[h] = float(np.mean(vals))
    seas = collections.defaultdict(list)
    for h in hbs:
        seas[h.hour].append(y[h] - trend[h])
    seas = {k: float(np.mean(v)) for k, v in seas.items()}

    assert len(out) == len(hbs)
    for _, row in out.iterrows():
        h = row["hour_bucket"].to_pydatetime()
        assert row["value"] == round(y[h] + 1e-9, 6)
        assert row["trend"] == round(trend[h] + 1e-9, 6)
        assert row["seasonal"] == round(seas[h.hour] + 1e-9, 6)
        assert row["resid"] == round(y[h] - trend[h] - seas[h.hour] + 1e-9, 6)


def test_text_filters_null_and_word_boundary_semantics(spark):
    """Review findings: NULL text must not pass any filter as 'ok' (or
    route as 'cjk'), and bad-word matching is word-boundary, not
    substring — 'class' must survive a blocklisted 'ass'."""
    from cesium_spark.operators.text import (
        c4_line_filter, gopher_quality_filter, script_profile,
    )

    good = "A perfectly reasonable sentence with many fine words here."
    docs = spark.createDataFrame(
        [(0, None), (1, good + "\n" + good),
         (2, "the class assignment title is due and that with care "
             + good.lower())],
        "doc_id long, text string")
    c4 = c4_line_filter(docs, min_lines=2, bad_words=("ass", "tit")) \
        .toPandas().set_index("doc_id")
    assert c4.loc[0, "reason"] == "null_text" and not bool(c4.loc[0, "keep"])
    assert c4.loc[1, "reason"] == "ok"
    assert c4.loc[2, "reason"] != "bad_words"  # substrings don't trip it
    c4b = c4_line_filter(docs, min_lines=2, bad_words=("class",)) \
        .toPandas().set_index("doc_id")
    assert c4b.loc[2, "reason"] == "bad_words"  # whole word does

    g = gopher_quality_filter(docs, min_words=5).toPandas().set_index("doc_id")
    assert g.loc[0, "reason"] == "null_text" and not bool(g.loc[0, "keep"])
    assert g.loc[2, "reason"] == "ok"

    sp = script_profile(docs).toPandas().set_index("doc_id")
    assert sp.loc[0, "main_script"] == "none"
    assert sp.loc[1, "main_script"] == "latin"


def test_event_transitions_counts_and_conditionals(spark):
    """Per-series consecutive pairs only (no cross-user pair), NULL
    types are real states, rows normalize within from_type."""
    from cesium_spark.operators.tsstats import event_transitions

    rows = [
        (1, 0.0, 0, "a"), (1, 1.0, 1, "b"), (1, 2.0, 2, "a"),
        (1, 3.0, 3, "b"),
        (2, 0.0, 0, "b"), (2, 1.0, 1, None), (2, 2.0, 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, event_type string")
    out = event_transitions(df).toPandas()
    m = {(r.from_type, r.to_type): (r.n, r.prob) for r in out.itertuples()}
    # user1: a->b, b->a, a->b ; user2: b->NULL, NULL->b
    assert m[("a", "b")][0] == 2 and m[("a", "b")][1] == 1.0
    assert m[("b", "a")][0] == 1
    assert m[("b", None)][0] == 1
    assert m[(None, "b")] == (1, 1.0)
    # b row: b->a and b->NULL, each 0.5
    assert m[("b", "a")][1] == 0.5 and m[("b", None)][1] == 0.5
    # the cross-user boundary (1,"b") -> (2,"b") must NOT appear
    assert m[("b", "b")][0] if ("b", "b") in m else True
    assert sum(n for (f, _), (n, _) in m.items()) == len(rows) - 2


def test_ewma_level_matches_pandas(spark):
    """ewma_level == pandas ewm(alpha).mean() (adjust=True) evaluated at
    the last point, plus the matching weighted std; a constant series
    clamps variance to exact 0."""
    import pandas as pd

    from cesium_spark.operators.robust import ewma_level

    rng = np.random.RandomState(3)
    x = rng.normal(10, 2, 40)
    rows = [(1, float(i), int(i), float(v)) for i, v in enumerate(x)]
    rows += [(2, float(i), int(i), 5.0) for i in range(8)]  # constant
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double"
    )
    out = ewma_level(df, ts_col="ts", alpha=0.3).toPandas().set_index("user_id")

    want_mean = pd.Series(x).ewm(alpha=0.3, adjust=True).mean().iloc[-1]
    w = 0.7 ** (len(x) - 1 - np.arange(len(x)))
    m = (w * x).sum() / w.sum()
    want_std = np.sqrt(max((w * x * x).sum() / w.sum() - m * m, 0.0))
    assert abs(out.loc[1, "ewma"] - round(want_mean + 1e-9, 6)) < 1e-9
    assert abs(out.loc[1, "ewm_std"] - round(want_std + 1e-9, 6)) < 1e-9
    assert out.loc[1, "n"] == 40
    assert out.loc[2, "ewma"] == 5.0
    assert out.loc[2, "ewm_std"] == 0.0  # clamped, not sqrt(noise)


def test_theilsen_trend_outlier_immune_and_degenerate(spark):
    """A noiseless line with one gross outlier still recovers the true
    slope/intercept (median immunity); a single-point series yields
    NULL slope and 0 pairs."""
    import datetime as dt

    from cesium_spark.operators.robust import theilsen_trend

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(days=k), k, 2.5 * k + 7.0) for k in range(12)
    ]
    rows[5] = (1, rows[5][1], 5, 500.0)  # gross outlier
    rows.append((2, t0, 0, 3.0))  # single point
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    out = theilsen_trend(df, t0="2024-01-01").toPandas().set_index("user_id")
    assert out.loc[1, "slope_per_day"] == 2.5
    assert out.loc[1, "intercept"] == 7.0
    assert out.loc[1, "n_pairs"] == 12 * 11 // 2
    assert out.loc[2, "n_pairs"] == 0
    assert np.isnan(out.loc[2, "slope_per_day"])


def test_theilsen_trend_decimation_stride(spark):
    """max_points decimation keeps rows (rn-1) % ceil(n/max_points) == 0
    and the estimate replays numpy's Theil-Sen on that exact subset."""
    import datetime as dt

    from cesium_spark.operators.robust import theilsen_trend

    rng = np.random.RandomState(9)
    t0 = dt.datetime(2024, 1, 1)
    x = np.cumsum(rng.normal(0.5, 1.0, 20))
    rows = [
        (1, t0 + dt.timedelta(days=float(k)), k, float(v))
        for k, v in enumerate(x)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    out = (
        theilsen_trend(df, t0="2024-01-01", max_points=5)
        .toPandas().set_index("user_id")
    )
    keep = np.arange(20)[::4]  # stride = ceil(20/5) = 4
    assert out.loc[1, "n_used"] == len(keep)
    tt, xx = keep.astype(float), x[keep]
    slopes = [
        (xx[j] - xx[i]) / (tt[j] - tt[i])
        for i in range(len(keep)) for j in range(i + 1, len(keep))
    ]
    s = np.median(slopes)
    icept = np.median(xx - s * tt)
    assert out.loc[1, "n_pairs"] == len(slopes)
    assert abs(out.loc[1, "slope_per_day"] - round(s + 1e-9, 6)) < 1e-9
    assert abs(out.loc[1, "intercept"] - round(icept + 1e-9, 6)) < 1e-9


def test_value_percentiles_interpolation(spark):
    """Exact percentile == numpy linear interpolation at rank p*(n-1)."""
    from cesium_spark.operators.robust import value_percentiles

    vals = [1.0, 2.0, 3.0, 4.0, 10.0]
    rows = [("a", v) for v in vals] + [("b", 7.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = value_percentiles(df).toPandas().set_index("event_type")
    for p, col in ((50, "p50"), (90, "p90"), (99, "p99")):
        want = np.percentile(vals, p)  # linear interpolation
        assert abs(out.loc["a", col] - round(want + 1e-9, 6)) < 1e-9, col
    assert out.loc["b", "p50"] == 7.0 and out.loc["b", "n"] == 1


def test_xcorr_types_alignment_and_guards(spark):
    """Pairs correlate over COMMON hours only; anti-correlated planted
    series hit -1; zero-variance partner yields NULL corr; pairs under
    min_hours are dropped."""
    import datetime as dt

    from cesium_spark.operators.robust import xcorr_types

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    ups = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    for h, v in enumerate(ups):
        rows.append((1, t0 + dt.timedelta(hours=h), "up", v))
        rows.append((1, t0 + dt.timedelta(hours=h), "down", -2.0 * v))
        rows.append((1, t0 + dt.timedelta(hours=h), "flat", 3.0))
    # an hour where only "up" fires: must not enter any pair
    rows.append((1, t0 + dt.timedelta(hours=10), "up", 99.0))
    # a type sharing only 2 hours with "up": dropped by min_hours=3
    rows.append((1, t0, "rare", 1.0))
    rows.append((1, t0 + dt.timedelta(hours=1), "rare", 2.0))
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double"
    )
    out = xcorr_types(df).toPandas()
    key = out.set_index(["type_a", "type_b"])
    assert key.loc[("down", "up"), "n_hours"] == 6  # hour 10 excluded
    assert key.loc[("down", "up"), "corr"] == -1.0
    assert np.isnan(key.loc[("flat", "up"), "corr"])  # zero variance
    assert ("rare", "up") not in key.index and ("up", "rare") not in key.index


def test_cohort_retention_matrix(spark):
    """Cohorts form on the Monday-truncated week of first activity;
    cells count DISTINCT active members; offset 0 is full retention."""
    import datetime as dt

    from cesium_spark.operators.analytics import cohort_retention

    mon1 = dt.datetime(2024, 1, 1)   # a Monday
    mon2 = dt.datetime(2024, 1, 8)
    rows = [
        # users 1,2 first seen in week1; user 1 returns week2 twice
        (1, mon1 + dt.timedelta(days=2)),
        (2, mon1 + dt.timedelta(days=5)),
        (1, mon2 + dt.timedelta(days=1)),
        (1, mon2 + dt.timedelta(days=3)),
        # user 3 first seen week2
        (3, mon2),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = cohort_retention(df).toPandas()
    m = out.set_index([out.cohort_week.dt.date.astype(str), "week_offset"])
    assert m.loc[("2024-01-01", 0), "n_active"] == 2
    assert m.loc[("2024-01-01", 0), "retention_pct"] == 1.0
    assert m.loc[("2024-01-01", 1), "n_active"] == 1  # distinct, not 2
    assert m.loc[("2024-01-01", 1), "cohort_size"] == 2
    assert m.loc[("2024-01-01", 1), "retention_pct"] == 0.5
    assert m.loc[("2024-01-08", 0), "n_active"] == 1
    assert len(out) == 3


def test_hampel_outliers_flags_spike_not_constant(spark):
    """A planted spike in a noisy series is flagged with the numpy
    rolling-quantile replay; a constant series (zero IQR) and the
    warmup region (frame < min_window) never flag."""
    from cesium_spark.operators.analytics import hampel_outliers

    rng = np.random.RandomState(4)
    x = rng.normal(0, 1, 60)
    x[40] = 25.0  # gross spike
    rows = [(1, float(i), int(i), float(v)) for i, v in enumerate(x)]
    rows += [(2, float(i), int(i), 7.0) for i in range(40)]  # constant
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double"
    )
    out = hampel_outliers(df, ts_col="ts").toPandas()
    assert (out.user_id == 2).sum() == 0
    flagged = set(out[out.user_id == 1].event_id)
    # numpy replay of the trailing-25 frame
    want = set()
    for i in range(60):
        w = x[max(0, i - 24): i + 1]
        if len(w) < 9:
            continue
        med = np.percentile(w, 50)
        iqr = np.percentile(w, 75) - np.percentile(w, 25)
        if iqr > 0 and abs(x[i] - med) > 1.5 * iqr:
            want.add(i)
    assert flagged == want and 40 in flagged


def test_hll_distinct_accuracy_and_duplicate_insensitivity(spark):
    """p=10 HLL lands within ~3x the theoretical 3.25% error on 30k
    distinct values, duplicates never move the estimate (max-merge
    idempotence), and a tiny input takes the linear-counting branch
    to a near-exact answer."""
    from cesium_spark.operators.sketch import hll_distinct

    vals = [(f"item-{i}",) for i in range(30000)]
    df = spark.createDataFrame(vals, "tok string")
    est = hll_distinct(df, "tok").toPandas().iloc[0]
    assert abs(est.hll_estimate - 30000) / 30000 < 0.10
    dup = spark.createDataFrame(vals + vals, "tok string")
    est2 = hll_distinct(dup, "tok").toPandas().iloc[0]
    assert est2.hll_estimate == est.hll_estimate
    assert est2.n_buckets_observed == est.n_buckets_observed

    tiny = spark.createDataFrame([(f"t{i}",) for i in range(40)], "tok string")
    est3 = hll_distinct(tiny, "tok").toPandas().iloc[0]
    assert abs(est3.hll_estimate - 40) / 40 < 0.10  # linear counting


def test_ngram_novelty_shared_vs_unique(spark):
    """A 13-gram shared between two docs is non-novel in both; a doc of
    fresh text is fully novel; a sub-13-token doc emits 0 keys and
    NULL novelty."""
    from cesium_spark.operators.dedup import ngram_novelty

    shared = " ".join(f"w{i}" for i in range(13))
    rows = [
        (1, shared + " alpha beta gamma"),
        (2, "prefix " + shared),
        (3, " ".join(f"u{i}" for i in range(20))),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_novelty(df, k=13).toPandas().set_index("doc_id")
    # doc1: 4 windows; exactly one (the pure shared one) also in doc2
    assert out.loc[1, "n_keys"] == 4 and out.loc[1, "n_novel"] == 3
    assert out.loc[2, "n_keys"] == 2 and out.loc[2, "n_novel"] == 1
    assert out.loc[3, "n_keys"] == 8 and out.loc[3, "n_novel"] == 8
    assert round(out.loc[3, "novelty_frac"], 6) == 1.0
    assert out.loc[4, "n_keys"] == 0 and np.isnan(out.loc[4, "novelty_frac"])


def test_skew_report_hand_computed(spark):
    """Known count distribution -> exact hand-computed Gini/CV/shares."""
    from cesium_spark.operators.analytics import skew_report

    # keys with counts 1, 2, 3, 10
    rows = [(1,)] + [(2,)] * 2 + [(3,)] * 3 + [(4,)] * 10
    df = spark.createDataFrame(rows, "user_id long")
    out = skew_report(df, key_col="user_id", top_n=2).toPandas().iloc[0]
    c = np.array([1, 2, 3, 10], dtype=float)
    assert out.n_keys == 4 and out.n_rows == 16 and out.max_count == 10
    assert out.mean_count == 4.0
    gini = 2 * (np.arange(1, 5) * np.sort(c)).sum() / (4 * c.sum()) - 5 / 4
    assert abs(out.gini - round(gini + 1e-9, 6)) < 1e-9
    cv = np.sqrt((c * c).sum() / 4 - 16.0) / 4.0
    assert abs(out.cv - round(cv + 1e-9, 6)) < 1e-9
    assert out.top2_share == round(13 / 16 + 1e-9, 6)


def test_dim_stats_matches_numpy(spark):
    """Per-dimension moments equal the numpy columns (rounded)."""
    from cesium_spark.operators.linalg import dim_stats

    rng = np.random.RandomState(7)
    X = rng.normal(2, 3, (40, 5))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = dim_stats(df).toPandas().set_index("pos").sort_index()
    for j in range(5):
        assert abs(out.loc[j, "mean"] - round(X[:, j].mean() + 1e-9, 6)) < 2e-6
        assert abs(out.loc[j, "std"]
                   - round(X[:, j].std(ddof=1) + 1e-9, 6)) < 2e-6
        assert out.loc[j, "min"] == round(X[:, j].min() + 1e-9, 6)
        assert out.loc[j, "max"] == round(X[:, j].max() + 1e-9, 6)


def test_pca_power_recovers_dominant_direction(spark):
    """On data with a planted dominant axis, three power passes align
    with numpy's top eigenvector (|cos| > 0.999) and the Rayleigh
    eigenvalue is within a few percent of numpy's."""
    from cesium_spark.operators.linalg import pca_power

    rng = np.random.RandomState(11)
    direction = rng.normal(size=8)
    direction /= np.linalg.norm(direction)
    X = (rng.normal(0, 3, (120, 1)) * direction  # strong axis
         + rng.normal(0, 0.3, (120, 8)))         # isotropic noise
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    out = pca_power(df, iters=3).toPandas().sort_values("pos")
    w = out.loading.to_numpy()

    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    evals, evecs = np.linalg.eigh(cov)
    v1, l1 = evecs[:, -1], evals[-1]
    cos = abs(np.dot(w, v1)) / np.linalg.norm(w)
    assert cos > 0.999
    assert abs(out.eigenvalue.iloc[0] - l1) / l1 < 0.05
    assert 0.5 < out.explained_var_frac.iloc[0] <= 1.0


def test_json_field_stats_missing_and_malformed(spark):
    """Missing fields and malformed JSON extract NULL: they count
    against presence but never poison an aggregate."""
    from cesium_spark.operators.analytics import json_field_stats

    rows = [
        ("a", '{"k": 10}'), ("a", '{"k": 20}'), ("a", '{"other": 1}'),
        ("a", "not json"), ("b", '{"k": 5}'),
    ]
    df = spark.createDataFrame(rows, "event_type string, props string")
    out = json_field_stats(df).toPandas().set_index("event_type")
    assert out.loc["a", "n"] == 4 and out.loc["a", "n_present"] == 2
    assert out.loc["a", "present_rate"] == 0.5
    assert out.loc["a", "mean"] == 15.0
    assert out.loc["a", "p50"] == 15.0  # interpolated over [10, 20]
    assert out.loc["b", "n_present"] == 1
    assert np.isnan(out.loc["b", "std"])  # stddev_samp of one row
    assert out.loc["b", "mean"] == 5.0


def test_value_histogram_clamps_and_reconciles(spark):
    """Out-of-range values land in edge bins, per-group fracs sum to 1,
    and bin edges follow the fixed [lo, hi) grid."""
    from cesium_spark.operators.analytics import value_histogram

    rows = [("a", -5.0), ("a", 0.0), ("a", 9.9), ("a", 15.0),
            ("a", 100.0), ("a", 250.0), ("b", 55.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = value_histogram(df).toPandas()
    a = out[out.event_type == "a"].set_index("bin")
    assert a.loc[0, "n"] == 3        # -5 (clamped), 0, 9.9
    assert a.loc[1, "n"] == 1        # 15
    assert a.loc[9, "n"] == 2        # 100, 250 (clamped into last bin)
    assert abs(a.frac.sum() - 1.0) < 1e-6
    assert a.loc[1, "bin_lo"] == 10.0 and a.loc[1, "bin_hi"] == 20.0
    b = out[out.event_type == "b"]
    assert len(b) == 1 and b.iloc[0].bin == 5 and b.iloc[0].frac == 1.0


def test_weighted_sample_replay_and_weight_bias(spark):
    """The selected set replays the A-ES key formula computed
    independently in Python (md5 -> u -> ln(u)/w), and heavier items
    dominate the sample."""
    import hashlib
    import math

    from cesium_spark.operators.split import weighted_sample

    rows = [(i, 20.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars double")
    out = weighted_sample(df, n=50).toPandas()

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / float(1 << 60)
        return round(math.log(u) / w + 1e-12, 9)

    keys = sorted(
        ((key(i, w), -i) for i, w in rows), reverse=True
    )[:50]
    want = {-mi for _, mi in keys}
    assert set(out.doc_id) == want
    heavy = (out.doc_id < 100).sum()
    assert heavy > 35  # weight-20 items dominate a 50-draw sample


def test_hourly_peaks_strict_neighbors_and_plateaus(spark):
    """Interior strict maxima flag with correct prominence; plateaus
    and endpoints never peak; a gap's neighbors are the adjacent
    OBSERVED buckets."""
    import datetime as dt

    from cesium_spark.operators.tsstats import hourly_peaks

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, hour, v):
        return (uid, t0 + dt.timedelta(hours=hour), v)

    rows = [
        # user 1: 1, 5, 2 -> peak at hour 1 (prominence 3)
        ev(1, 0, 1.0), ev(1, 1, 5.0), ev(1, 2, 2.0),
        # then plateau 4, 4 then 1: no peak at either 4
        ev(1, 3, 4.0), ev(1, 4, 4.0), ev(1, 5, 1.0),
        # user 2: rising endpoint only -> no peaks
        ev(2, 0, 1.0), ev(2, 1, 2.0), ev(2, 2, 3.0),
        # user 3: gap between buckets; 7 at hour 10 peaks over
        # observed neighbors hours 2 and 20
        ev(3, 2, 1.0), ev(3, 10, 7.0), ev(3, 20, 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = hourly_peaks(df).toPandas()
    p1 = out[out.user_id == 1]
    assert len(p1) == 1 and p1.iloc[0].height == 5.0
    assert p1.iloc[0].prominence == 3.0
    assert (out.user_id == 2).sum() == 0
    p3 = out[out.user_id == 3]
    assert len(p3) == 1 and p3.iloc[0].height == 7.0
    assert p3.iloc[0].prominence == 4.0


def test_seasonal_anomalies_flags_offseason_spike(spark):
    """A spike injected off-pattern into a strongly diurnal series is
    flagged; the recurring daily rush itself is absorbed by the
    seasonal index and never flags at the same magnitude."""
    import datetime as dt

    from cesium_spark.operators.tsstats import seasonal_anomalies

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(7):
        for hour in range(24):
            base = 100.0 if hour == 9 else 10.0  # daily 9am rush
            rows.append((1, t0 + dt.timedelta(days=day, hours=hour), base))
    # off-season spike: 3am on day 5 jumps to 60 (far below the rush
    # peak in absolute terms, but wildly off-pattern)
    rows = [r if not (r[1].day == 6 and r[1].hour == 3) else (1, r[1], 60.0)
            for r in rows]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = seasonal_anomalies(df, k=2.5).toPandas()
    assert len(out) >= 1
    spike = out[(out.hour_bucket.dt.day == 6) & (out.hour_bucket.dt.hour == 3)]
    assert len(spike) == 1  # the off-pattern bucket is flagged
    # no 9am rush bucket outside the spike's neighborhood is flagged
    rush = out[out.hour_bucket.dt.hour == 9]
    assert len(rush) == 0


def test_rollup_summary_subtotal_levels(spark):
    """ROLLUP emits (type, dow) cells, per-type subtotals (dow NULL),
    and one grand total (both NULL) whose n equals the row count."""
    import datetime as dt

    from cesium_spark.operators.tsstats import event_transitions  # noqa: F401
    from cesium_spark.operators.analytics import rollup_summary

    t0 = dt.datetime(2024, 1, 7)  # a Sunday -> dow 0
    rows = [
        ("a", t0, 1.0), ("a", t0, 3.0),
        ("a", t0 + dt.timedelta(days=1), 5.0),
        ("b", t0, 7.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = rollup_summary(df).toPandas()
    grand = out[out.event_type.isna() & out.dow.isna()]
    assert len(grand) == 1 and grand.iloc[0].n == 4
    assert grand.iloc[0].sum_value == 16.0
    sub_a = out[(out.event_type == "a") & out.dow.isna()]
    assert len(sub_a) == 1 and sub_a.iloc[0].n == 3 and sub_a.iloc[0].sum_value == 9.0
    cell = out[(out.event_type == "a") & (out.dow == 0)]
    assert len(cell) == 1 and cell.iloc[0].n == 2 and cell.iloc[0].mean_value == 2.0


def test_pivot_counts_columns_and_conversion(spark):
    """Wide per-key counts reconcile with totals; conversion is
    purchase/view, NULL when the user never viewed."""
    from cesium_spark.operators.analytics import pivot_counts

    rows = [(1, "view"), (1, "view"), (1, "purchase"), (1, "error"),
            (2, "click")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = pivot_counts(df).toPandas().set_index("user_id")
    assert out.loc[1, "n_view"] == 2 and out.loc[1, "n_purchase"] == 1
    assert out.loc[1, "n_total"] == 4
    assert out.loc[1, "conversion"] == 0.5
    assert out.loc[2, "n_click"] == 1 and out.loc[2, "n_total"] == 1
    assert np.isnan(out.loc[2, "conversion"])


def test_containment_asymmetric_quote_inclusion(spark):
    """A short doc quoted whole inside a long one: containment
    short->long ~1 while long->short is small (and Jaccard would be
    tiny); unrelated docs never pair."""
    from cesium_spark.operators.dedup import containment_pairs

    quote = " ".join(f"q{i}" for i in range(10))          # 10 tokens, 3 keys @ k=8
    long_doc = (" ".join(f"l{i}" for i in range(40))
                + " " + quote + " "
                + " ".join(f"m{i}" for i in range(40)))
    rows = [(1, quote), (2, long_doc),
            (3, " ".join(f"z{i}" for i in range(30)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = containment_pairs(df, k=8, threshold=0.5).toPandas()
    fwd = out[(out.id_a == 1) & (out.id_b == 2)]
    assert len(fwd) == 1
    assert fwd.iloc[0].containment == 1.0       # all 3 of doc1's keys shared
    assert fwd.iloc[0].n_a == 3
    # reverse direction is below threshold (3 shared / 76 keys of doc2)
    assert len(out[(out.id_a == 2) & (out.id_b == 1)]) == 0
    assert (out.id_a == 3).sum() == 0 and (out.id_b == 3).sum() == 0


def test_type_entropy_known_distributions(spark):
    """Uniform 2-type mix -> entropy ln 2 and norm 1; single type ->
    0 and NULL norm; skewed mix matches the numpy value."""
    from cesium_spark.operators.tsstats import type_entropy

    rows = ([(1, "a")] * 5 + [(1, "b")] * 5
            + [(2, "a")] * 7
            + [(3, "a")] * 3 + [(3, "b")] * 1)
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = type_entropy(df).toPandas().set_index("user_id")
    assert abs(out.loc[1, "entropy"] - round(np.log(2) + 1e-9, 6)) < 1e-9
    assert out.loc[1, "entropy_norm"] == 1.0
    assert out.loc[2, "entropy"] == 0.0 and np.isnan(out.loc[2, "entropy_norm"])
    p = np.array([3, 1]) / 4
    want = -(p * np.log(p)).sum()
    assert abs(out.loc[3, "entropy"] - round(want + 1e-9, 6)) < 1e-6
    assert out.loc[3, "k_types"] == 2 and out.loc[3, "n"] == 4


def test_decorrelation_lag_white_noise_vs_trend(spark):
    """White noise decorrelates at lag 1; a strong trend stays
    correlated through every probed lag (NULL)."""
    from cesium_spark.operators.tsstats import decorrelation_lag

    rng = np.random.RandomState(2)
    rows = [(1, float(i), int(i), float(v))
            for i, v in enumerate(rng.normal(size=80))]
    rows += [(2, float(i), int(i), float(i)) for i in range(80)]  # trend
    df = spark.createDataFrame(
        rows, "user_id int, ts double, event_id int, value double")
    out = decorrelation_lag(df, ts_col="ts").toPandas().set_index("user_id")
    assert out.loc[1, "decorr_lag"] == 1
    assert np.isnan(out.loc[2, "decorr_lag"])


def test_review_fixes_null_and_degenerate_paths(spark):
    """Round-6 review-pass regressions: (1) ewma_level drops NULL
    values (pandas-ewm renormalization, not weight-biased-to-zero);
    (2) xcorr_types drops all-NULL hours before pairing; (3)
    pivot_counts with custom types lacking view/purchase yields a
    NULL conversion column, not an AnalysisException; (4)
    json_field_stats survives a string-valued field under ANSI; (5)
    pca_power returns NULL loadings (not a crash) on degenerate
    input; (6) hll_distinct of an empty relation estimates 0."""
    import datetime as dt

    from cesium_spark.operators.analytics import (json_field_stats,
                                                  pivot_counts)
    from cesium_spark.operators.linalg import pca_power
    from cesium_spark.operators.robust import ewma_level, xcorr_types
    from cesium_spark.operators.sketch import hll_distinct

    # (1) NULL mid-series: ewma over [10, NULL, 10] must be 10
    df = spark.createDataFrame(
        [(1, 0.0, 0, 10.0), (1, 1.0, 1, None), (1, 2.0, 2, 10.0)],
        "user_id int, ts double, event_id int, value double")
    out = ewma_level(df, ts_col="ts").toPandas().iloc[0]
    assert out.ewma == 10.0 and out.n == 2

    # (2) an hour where one type is all-NULL never enters a pair
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(4):
        rows.append((1, t0 + dt.timedelta(hours=h), "a", float(h)))
        rows.append((1, t0 + dt.timedelta(hours=h), "b", float(h * 2)))
    rows.append((1, t0 + dt.timedelta(hours=9), "a", None))
    rows.append((1, t0 + dt.timedelta(hours=9), "b", 5.0))
    df2 = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double")
    x = xcorr_types(df2, min_hours=3).toPandas()
    assert x.iloc[0].n_hours == 4  # hour 9 excluded (a-side NULL sum)

    # (3) custom types without view/purchase: stable schema, NULL conv
    df3 = spark.createDataFrame(
        [(1, "login"), (1, "logout")], "user_id long, event_type string")
    p = pivot_counts(df3, types=("login", "logout")).toPandas()
    assert "conversion" in p.columns and p.conversion.isna().all()

    # (4) string-valued field -> NULL under ANSI, not an abort
    df4 = spark.createDataFrame(
        [("a", '{"k": "abc"}'), ("a", '{"k": 3}')],
        "event_type string, props string")
    j = json_field_stats(df4).toPandas().iloc[0]
    assert j["n_present"] == 1 and j["mean"] == 3.0  # ["mean"]: .mean is the Series method

    # (5) identical vectors: NULL loadings, eigenvalue 0
    df5 = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    pc = pca_power(df5).toPandas()
    assert len(pc) == 3 and pc.loading.isna().all()
    assert (pc.eigenvalue == 0.0).all()

    # (6) empty input -> defined empty sketch
    df6 = spark.createDataFrame([], "tok string")
    h = hll_distinct(df6, "tok").toPandas().iloc[0]
    assert h.hll_estimate == 0.0 and h.n_buckets_observed == 0


# ---------------------------------------------------------------------------
# round-6 session-3 batch: turn analytics, CMS, z-order layout,
# stratified sampling, inverted index, histogram quantiles
# ---------------------------------------------------------------------------


def _mk_turns(spark):
    from datetime import datetime

    rows = [
        # conv 1: u a u a — perfect alternation, 10s gaps
        (1, 0, "user", datetime(2024, 1, 1, 0, 0, 0)),
        (1, 1, "assistant", datetime(2024, 1, 1, 0, 0, 10)),
        (1, 2, "user", datetime(2024, 1, 1, 0, 0, 20)),
        (1, 3, "assistant", datetime(2024, 1, 1, 0, 0, 30)),
        # conv 2: a a a — monologue (tool-loop signature)
        (2, 0, "assistant", datetime(2024, 1, 1, 1, 0, 0)),
        (2, 1, "assistant", datetime(2024, 1, 1, 1, 0, 5)),
        (2, 2, "assistant", datetime(2024, 1, 1, 1, 0, 35)),
        # conv 3: single turn
        (3, 0, "user", datetime(2024, 1, 1, 2, 0, 0)),
    ]
    return spark.createDataFrame(
        rows, "conv_id long, turn_idx int, role string, ts timestamp")


def test_turn_stats_alternation_and_gaps(spark):
    from cesium_spark.operators.turns import turn_stats

    out = turn_stats(_mk_turns(spark)).toPandas().set_index("conv_id")
    c1 = out.loc[1]
    assert c1.n_turns == 4 and c1.n_roles == 2 and c1.n_switches == 3
    assert c1.alternation == 1.0
    assert c1.mean_gap_s == 10.0 and c1.max_gap_s == 10.0 and c1.duration_s == 30.0
    c2 = out.loc[2]
    assert c2.n_switches == 0 and c2.alternation == 0.0
    assert c2.mean_gap_s == 17.5 and c2.max_gap_s == 30.0
    c3 = out.loc[3]
    assert c3.n_turns == 1
    # single-turn conversations: rate/gap stats are undefined, not 0
    import pandas as pd
    assert pd.isna(c3.alternation) and pd.isna(c3.mean_gap_s)
    assert c3.duration_s == 0.0


def test_turn_stats_on_generated_transcripts(spark):
    """The operator's native shape: real generate_transcripts output
    keyed by (conv_id, turn_idx) with the proper role column."""
    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.operators.turns import turn_stats

    tr = generate_transcripts(spark, n_convs=20, seed=7, max_turns=500)
    out = turn_stats(tr).toPandas()
    assert len(out) == 20
    assert (out.n_turns >= 1).all()
    ok = out[out.n_turns > 1]
    assert ((ok.alternation >= 0) & (ok.alternation <= 1)).all()
    assert (ok.max_gap_s >= ok.mean_gap_s - 1e-9).all()
    assert (out.duration_s >= 0).all()


def test_reply_latency_pairs(spark):
    from cesium_spark.operators.turns import reply_latency

    out = reply_latency(_mk_turns(spark)).toPandas()
    out = out.set_index(["from_role", "to_role"])
    # conv1 contributes u->a (x2), a->u (x1); conv2 a->a (x2)
    assert out.loc[("user", "assistant")].n == 2
    assert out.loc[("user", "assistant")].mean_gap_s == 10.0
    assert out.loc[("assistant", "assistant")].n == 2
    assert out.loc[("assistant", "assistant")].p50_gap_s == 17.5  # interp of 5,30
    assert ("user", "user") not in out.index


def test_cms_never_undercounts_and_exact_at_width(spark):
    from cesium_spark.operators.sketch import (
        cms_counter_rows, cms_estimate, cms_heavy_hitters)

    docs = spark.createDataFrame(
        [(i, "alpha beta " * (i + 1) + "gamma") for i in range(10)],
        "doc_id long, text string")
    # tight width -> collisions likely; the one-sided bound must hold
    hh = cms_heavy_hitters(docs, d=2, w=4, k=10).toPandas()
    assert (hh.overcount >= 0).all()
    assert (hh.n_est >= hh.n_exact).all()
    # generous width -> estimates exact
    hh2 = cms_heavy_hitters(docs, d=4, w=4096, k=10).toPandas()
    assert (hh2.overcount == 0).all()
    # counter state is bounded by d*w regardless of input
    st = cms_counter_rows(
        docs.selectExpr("explode(split(text, ' ')) AS tok"), "tok", d=2, w=4)
    assert st.count() <= 8
    # estimate for a never-inserted value reads 0
    cand = spark.createDataFrame([("zzz_never",)], "tok string")
    est = cms_estimate(cand, st, "tok", d=2, w=4).toPandas()
    assert est.cms_est.iloc[0] >= 0  # collision mass only


def test_zorder_key_interleave_and_cells(spark):
    from pyspark.sql import functions as F

    from cesium_spark.operators.layout import zorder_cells, zorder_key

    df = spark.createDataFrame([(5, 3)], "x long, y long")  # 0b101, 0b011
    z = df.select(zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")).head().z
    # interleave x even / y odd: bits x=101, y=011 ->
    # z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
    #   = 1 | 2 | 0 | 8 | 16 | 0 = 27
    assert z == 27
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cells = zorder_cells(ev, bits=5, cell_shift=4).toPandas()
    assert len(cells) <= 64 and abs(cells.share.sum() - 1.0) < 1e-3
    assert (cells.n_keys >= 1).all() and (cells.n >= 1).all()


def test_stratified_sample_deterministic_and_sized(spark):
    from cesium_spark.operators.split import stratified_sample

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = stratified_sample(ev, "event_type", "event_id", 30).toPandas()
    b = stratified_sample(ev, "event_type", "event_id", 30).toPandas()
    assert sorted(a.event_id) == sorted(b.event_id)  # pure function of id
    per = a.groupby("event_type").size()
    # binomial around 30 — generous band, deterministic data so stable
    assert ((per > 10) & (per < 60)).all()
    # a group smaller than the target keeps everything
    tiny = ev.limit(5)
    kept = stratified_sample(tiny, "event_type", "event_id", 1000).count()
    assert kept == 5


def test_inverted_index_bands_and_postings(spark):
    from cesium_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple banana"), (3, "apple cherry"),
         (10, "apple date date")],
        "doc_id long, text string")
    out = inverted_index(docs, min_df=2, max_df=3).toPandas().set_index("token")
    # apple df=4 > max_df, cherry/date df=1 < min_df -> only banana
    assert list(out.index) == ["banana"]
    assert out.loc["banana"].df == 2
    assert out.loc["banana"].postings == "000000000001,000000000002"
    # duplicate tokens within a doc counted once (distinct pairs)
    out2 = inverted_index(docs, min_df=1, max_df=10).toPandas().set_index("token")
    assert out2.loc["date"].df == 1


def test_histogram_quantiles_error_bounded_by_bin(spark):
    from cesium_spark.operators.analytics import histogram_quantiles

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = histogram_quantiles(ev, lo=0.0, hi=256.0, n_bins=64,
                              qs=(0.5, 0.9)).toPandas()
    width = 256.0 / 64
    # in-range quantiles: the interpolated estimate sits within one bin
    # of the exact value (the sketch's design bound)
    inr = out[(out.exact >= 0) & (out.exact < 256.0)]
    assert len(inr) > 0
    assert (inr.abs_err <= width + 1e-6).all()
    assert (out.n > 0).all()


def test_event_trigrams_counts_and_boundaries(spark):
    from datetime import datetime

    from cesium_spark.operators.tsstats import event_trigrams

    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1: a b a b a -> triples (a,b,a) x2, (b,a,b) x1
    for i, ty in enumerate(["a", "b", "a", "b", "a"]):
        rows.append((1, i, t0.replace(minute=i), ty))
    # user 2: only 2 events -> no triple crosses users
    rows += [(2, 10, t0.replace(hour=1), "a"), (2, 11, t0.replace(hour=1, minute=1), "b")]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    out = event_trigrams(df, k=10).toPandas()
    out = out.set_index(["t1", "t2", "t3"])
    assert out.loc[("a", "b", "a")].n == 2
    assert out.loc[("b", "a", "b")].n == 1
    assert len(out) == 2  # user 2 contributed nothing


def test_ks_by_group_identical_and_disjoint(spark):
    from cesium_spark.operators.drift import ks_by_group

    same = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(100)], "event_type string, value double")
    out = ks_by_group(same, same).toPandas().iloc[0]
    assert out.ks_d == 0.0 and not out.drifted
    assert out.n_ref == 100 and out.n_cur == 100
    lo = spark.createDataFrame([("a", float(i)) for i in range(50)],
                               "event_type string, value double")
    hi = spark.createDataFrame([("a", float(i + 1000)) for i in range(50)],
                               "event_type string, value double")
    out2 = ks_by_group(lo, hi).toPandas().iloc[0]
    assert out2.ks_d == 1.0 and out2.drifted  # fully separated ECDFs
    # group present on one side only is dropped
    onlyref = spark.createDataFrame([("b", 1.0)], "event_type string, value double")
    out3 = ks_by_group(lo.union(onlyref), hi).toPandas()
    assert set(out3.event_type) == {"a"}


def test_label_centroids_geometry(spark):
    from cesium_spark.operators.linalg import label_centroids

    rows = [
        # label 0: all identical -> cohesion exactly 1
        (0, 0, [1.0, 0.0]), (1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]),
        # label 1: opposite vectors -> centroid zero-ish, cos NULL-guarded
        (3, 1, [0.0, 2.0]), (4, 1, [0.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = label_centroids(df).toPandas().set_index("label")
    assert out.loc[0].n == 3
    assert out.loc[0].centroid_norm == 1.0
    assert out.loc[0].mean_cos_to_centroid == 1.0
    # exact cancellation: centroid is the zero vector, cosine undefined
    assert out.loc[1].centroid_norm == 0.0
    import pandas as pd
    assert pd.isna(out.loc[1].mean_cos_to_centroid)


def test_inverted_index_bigram_units(spark):
    from cesium_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "one")],
        "doc_id long, text string")
    out = inverted_index(docs, min_df=1, max_df=10, ngram=2) \
        .toPandas().set_index("token")
    assert out.loc["a b"].df == 2
    assert out.loc["b c"].df == 1
    # a doc shorter than the gram order contributes nothing (no NULLs)
    assert "one" not in out.index and len(out) == 3


def test_rewrite_zordered_preserves_data_disjoint_ranges(spark, tmp_path):
    """The z-order maintenance rewrite is a pure permutation committed
    through the snapshot layer: identical rows, disjoint per-file
    z-ranges, previous snapshot still readable."""
    from pyspark.sql import functions as F

    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.operators.layout import rewrite_zordered, zorder_key
    from cesium_spark.sources.table import SnapshotTable

    tr = generate_transcripts(spark, n_convs=30, seed=5, max_turns=300)
    table = SnapshotTable(str(tmp_path / "t"))
    table.append(tr)
    before = table.read(spark)
    n = before.count()
    snap0 = table.current_snapshot_id()

    rewrite_zordered(table, spark, ts_col="ts", key_col="conv_id",
                     bits=8, n_files=4)
    after = table.read(spark)
    assert after.count() == n
    # permutation: no row lost or duplicated
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0

    # disjoint z-ranges per physical file
    m = 1 << 8
    hour = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)) % m
    key = F.abs(F.xxhash64(F.col("conv_id"))) % m
    spans = (
        after.withColumn("_z", zorder_key(hour, key, 8))
        .withColumn("_f", F.input_file_name())
        .groupBy("_f").agg(F.min("_z").alias("lo"), F.max("_z").alias("hi"))
        .toPandas().sort_values("lo").reset_index(drop=True)
    )
    assert len(spans) > 1
    for i in range(1, len(spans)):
        assert spans.lo[i] > spans.hi[i - 1]  # no overlap between files

    # time travel: the pre-rewrite snapshot still reads
    assert table.read(spark, as_of=snap0).count() == n


def test_maintenance_job_end_to_end(spark, tmp_path):
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.sources.table import SnapshotTable
    from jobs.maintenance_job import main

    tr = generate_transcripts(spark, n_convs=10, seed=9, max_turns=200)
    root = str(tmp_path / "t2")
    table = SnapshotTable(root)
    table.append(tr)
    n = table.read(spark).count()
    main(["--table", root, "--n-files", "2", "--keep-last", "1"])
    assert table.read(spark).count() == n
    assert len(table.snapshots()) >= 1


def test_token_pmi_known_collocation(spark):
    from cesium_spark.operators.text import token_pmi

    # "north pole" always together (5 docs); "the" everywhere
    rows = [(i, "north pole the") for i in range(5)]
    rows += [(10 + i, "the filler words") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_pmi(docs, min_pair_docs=5, k=10).toPandas()
    out = out.set_index(["a", "b"])
    import math
    # PMI(north, pole) = ln(10 * 5 / (5 * 5)) = ln 2
    assert abs(out.loc[("north", "pole")].pmi - round(math.log(2) + 1e-9, 6)) < 1e-9
    # ubiquitous "the" with half-corpus tokens: ln(10*5/(10*5)) = 0
    assert out.loc[("pole", "the")].pmi == 0.0
    # ties break lexicographically: (filler, words) shares ln 2
    assert out.loc[("filler", "words")]["rank"] == 1  # ["rank"]: .rank is the Series method
    assert out.loc[("north", "pole")]["rank"] == 2


def test_pagerank_regular_graph_fixed_point_and_path(spark):
    from cesium_spark.operators.pagerank import pagerank

    # regular graph (triangle, symmetrized): inflow per node is exactly
    # 1.0, so r = 1.0 is the fixed point and every round must stay there
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    edges = spark.createDataFrame(
        [(s, d) for s, d in tri] + [(d, s) for s, d in tri], "src string, dst string"
    )
    out = pagerank(edges).toPandas().set_index("node")["score"]
    assert set(out.index) == {"a", "b", "c"}
    assert (out == 1.0).all()

    # path a-b-c: the center accumulates, endpoints shed — replay the
    # identical rounded recursion in pure python and demand exactness
    path = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    edges = spark.createDataFrame(path, "src string, dst string")
    got = pagerank(edges, n_iter=8).toPandas().set_index("node")["score"]
    r = {"a": 1.0, "b": 1.0, "c": 1.0}
    frac = {("a", "b"): 1.0, ("b", "a"): 0.5, ("b", "c"): 0.5, ("c", "b"): 1.0}
    for _ in range(8):
        inflow = {n: 0.0 for n in r}
        for (s, d), f in frac.items():
            inflow[d] += f * r[s]
        r = {n: round(0.15 + 0.85 * inflow[n] + 1e-9, 6) for n in r}
    assert r["b"] > r["a"] == r["c"]
    for n in r:
        assert got[n] == r[n]


def test_pagerank_dangling_node_gets_base_score(spark):
    from cesium_spark.operators.pagerank import pagerank

    # directed edge a->b only: a has no inflow, lands at 1-d exactly
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = pagerank(edges, n_iter=3).toPandas().set_index("node")["score"]
    assert out["a"] == round(0.15 + 1e-9, 6)
    assert out["b"] > out["a"]


def test_textrank_keywords_hub_token_wins(spark):
    from cesium_spark.operators.pagerank import textrank_keywords

    # "hub" co-occurs with every satellite (5 docs each); satellites
    # never co-occur with each other -> star graph, hub must rank 1
    rows = []
    for i, sat in enumerate(["sat1", "sat2", "sat3"]):
        rows += [(100 * i + j, f"hub {sat}") for j in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textrank_keywords(docs, min_pair_docs=5, k=10).toPandas()
    assert list(out["rank"]) == [1, 2, 3, 4]
    assert out.iloc[0]["token"] == "hub"
    # satellites are symmetric: identical scores, lexicographic order
    sats = out[out.token.str.startswith("sat")]
    assert len(set(sats["score"])) == 1
    assert list(sats["token"]) == ["sat1", "sat2", "sat3"]


def test_bloom_semi_join_exact_and_superset(spark):
    from cesium_spark.operators.bloomjoin import bloom_semi_join

    probe = spark.createDataFrame(
        [(i, f"p{i}") for i in range(500)] + [(None, "pnull")],
        "k long, payload string",
    )
    build = spark.createDataFrame(
        [(i,) for i in range(0, 500, 7)] + [(None,), (9999,)], "k long"
    )
    exact = probe.join(build.select("k").distinct(), "k", "left_semi")

    # refined result == exact semi-join, even with a tiny m forcing FPs
    got = bloom_semi_join(probe, build, on="k", m_bits=64, k_hashes=2)
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0
    # NULL probe keys never match (SQL semi-join semantics)
    assert got.where(F.col("k").isNull()).count() == 0

    # unrefined candidates: superset with false positives at m=64,
    # and no false negatives
    cand = bloom_semi_join(probe, build, on="k", m_bits=64, k_hashes=2,
                           refine=False)
    assert exact.exceptAll(cand).count() == 0
    assert cand.count() >= exact.count()


def test_bloom_semi_join_plan_probe_side_map_only(spark):
    from cesium_spark.operators.bloomjoin import bloom_semi_join

    probe = spark.range(0, 10000).select(F.col("id").alias("k"))
    build = spark.range(0, 100).select((F.col("id") * 3).alias("k"))
    cand = bloom_semi_join(probe, build, on="k", k_hashes=3, refine=False)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # all three membership tests are broadcast semi-joins: the probe
    # stream is pruned without ever shuffling
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("LeftSemi") >= 3
    assert "SortMergeJoin" not in plan


def test_seasonal_naive_backtest_perfect_seasonality(spark):
    from cesium_spark.operators.tsstats import seasonal_naive_backtest
    import datetime as dt

    # series "s": value exactly periodic with period 24h -> seasonal MAE
    # is 0 and skill = 1; persistence errs whenever adjacent hours differ
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for hour in range(72):
        v = [10.0, 20.0][hour % 2]  # alternating hours, period divides 24
        rows.append(("s", t0 + dt.timedelta(hours=hour), v))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = seasonal_naive_backtest(
        df, key_col="event_type", value_col="value", season_hours=24
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_eval"] == 48  # hours 24..71 have both references
    assert r["mae_seasonal"] == 0.0
    assert r["mae_naive"] == 10.0
    assert r["skill"] == 1.0


def test_seasonal_naive_backtest_constant_series_null_skill(spark):
    from cesium_spark.operators.tsstats import seasonal_naive_backtest
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("c", t0 + dt.timedelta(hours=h), 5.0) for h in range(30)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = seasonal_naive_backtest(
        df, key_col="event_type", value_col="value", season_hours=24
    ).toPandas()
    r = out.iloc[0]
    # both forecasters are exact -> mae 0, skill undefined (NULL)
    assert r["mae_naive"] == 0.0 and r["mae_seasonal"] == 0.0
    assert r["skill"] is None or (r["skill"] != r["skill"])


def test_cluster_keywords_separated_topics(spark):
    from cesium_spark.operators.topics import cluster_keywords

    # two well-separated embedding clusters with distinctive vocab plus
    # a shared ubiquitous token; c-TF-IDF must label each cluster by
    # its own term, not the shared one
    emb_rows, doc_rows = [], []
    for i in range(6):
        emb_rows.append((i, [0.0, 0.0 + i * 0.01]))
        doc_rows.append((i, "common spark spark"))
    for i in range(6, 12):
        emb_rows.append((i, [10.0, 10.0 + (i - 6) * 0.01]))
        doc_rows.append((i, "common flink flink"))
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = cluster_keywords(docs, emb, k=2, iters=2, top_terms=2).toPandas()
    top = out[out["rank"] == 1].set_index("cluster")["token"]
    assert set(top.values) == {"spark", "flink"}
    # the shared token never outranks the distinctive one
    assert (out[out.token == "common"]["rank"] > 1).all()


def _hourly_events(spark, spec):
    """spec: list of (key, hour, count) -> events-shaped df where hour h
    of key k holds `count` rows."""
    import pyspark.sql.functions as F

    rows = []
    for k, h, c in spec:
        for j in range(c):
            rows.append((k, float(h * 3600 + j)))
    df = spark.createDataFrame(rows, "event_type string, sec double")
    return df.select("event_type", F.timestamp_seconds("sec").alias("ts"))


def test_perm_entropy_monotone_is_zero(spark):
    from cesium_spark.operators.symbolic import perm_entropy

    ev = _hourly_events(spark, [("up", h, h + 1) for h in range(6)])
    r = perm_entropy(ev).collect()[0]
    # strictly increasing counts -> a single ordinal pattern -> H = 0
    assert r["n_windows"] == 4 and r["n_patterns"] == 1
    assert r["h_perm"] == 0.0 and r["h_norm"] == 0.0


def test_perm_entropy_tie_ranks_by_position(spark):
    from cesium_spark.operators.symbolic import perm_entropy

    # constant series: every triple is all-ties -> earlier position
    # ranks first -> the same single "ascending" pattern, entropy 0
    ev = _hourly_events(spark, [("flat", h, 3) for h in range(5)])
    r = perm_entropy(ev).collect()[0]
    assert r["n_patterns"] == 1 and r["h_perm"] == 0.0


def test_sax_motifs_square_wave_word(spark):
    from cesium_spark.operators.symbolic import sax_motifs

    # 8-hour shape [1,1,9,9,9,9,1,1] repeated 4x: PAA segments z-map to
    # a/d/d/a in every window
    shape = [1, 1, 9, 9, 9, 9, 1, 1]
    ev = _hourly_events(
        spark, [("sq", h, shape[h % 8]) for h in range(32)])
    out = sax_motifs(ev, win=8, paa=4, top=3).collect()
    assert len(out) == 1
    assert out[0]["word"] == "adda" and out[0]["n_windows"] == 4


def test_sax_motifs_constant_series_empty(spark):
    from cesium_spark.operators.symbolic import sax_motifs

    ev = _hourly_events(spark, [("flat", h, 2) for h in range(16)])
    assert sax_motifs(ev).count() == 0  # sd = 0 -> shape undefined


def test_leadlag_xcorr_recovers_shift(spark):
    from cesium_spark.operators.tsstats import leadlag_xcorr

    # B(h) = A(h+2): B leads A by 2 hours -> best_lag == +2, r == 1
    base = [1, 5, 2, 7, 3, 8, 4, 9, 2, 6, 1, 7, 5, 3, 8, 2, 9, 4, 6, 1,
            7, 2, 8, 3, 5, 9, 1, 6, 4, 8, 2, 7, 3, 9, 5, 1, 6, 2, 8, 4, 7]
    spec = [("aaa", h, base[h]) for h in range(41)]
    spec += [("bbb", h, base[h + 2]) for h in range(39)]
    r = leadlag_xcorr(_hourly_events(spark, spec), max_lag=4).collect()[0]
    assert (r["key_a"], r["key_b"]) == ("aaa", "bbb")
    assert r["best_lag"] == 2 and r["r_best"] == 1.0
    assert r["r_zero"] < 1.0


def test_holt_linear_exact_on_linear_series(spark):
    from cesium_spark.operators.tsstats import holt_linear

    # y = h + 1: one-step forecasts are exact, so level tracks y, trend
    # stays 1, SSE stays 0
    ev = _hourly_events(spark, [("lin", h, h + 1) for h in range(10)])
    r = holt_linear(ev, alpha=0.5, beta=0.3, horizon=24).collect()[0]
    assert r["n_hours"] == 10
    assert r["level"] == 10.0 and r["trend"] == 1.0
    assert r["forecast_h"] == 34.0 and r["rmse_1step"] == 0.0


def test_holt_linear_short_series_skipped(spark):
    from cesium_spark.operators.tsstats import holt_linear

    ev = _hourly_events(spark, [("s2", 0, 1), ("s2", 1, 2)])
    assert holt_linear(ev).count() == 0


def test_asof_nearest_directions_and_tolerance(spark):
    import pyspark.sql.functions as F
    from cesium_spark.operators.asof import asof_nearest

    mk_ts = lambda s: F.timestamp_seconds(F.col(s)).alias("ts")  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10.0, "fwd_wins"), (1, 4.0, "exact"), (1, 20.0, "tie"),
         (2, 100.0, "no_match")],
        "k int, sec double, tag string").select("k", mk_ts("sec"), "tag")
    right = spark.createDataFrame(
        [(1, 7.0, 70.0), (1, 12.0, 120.0), (1, 4.0, 40.0),
         (1, 18.0, 180.0), (1, 22.0, 220.0)],
        "k int, sec double, mark double").select("k", mk_ts("sec"), "mark")
    out = {
        r["tag"]: r
        for r in asof_nearest(left, right, key_col="k",
                              value_cols=["mark"],
                              tolerance_seconds=5).collect()
    }
    # 10 -> candidates 7 (-3s) and 12 (+2s): forward is nearer
    assert out["fwd_wins"]["mark_asof"] == 120.0
    assert out["fwd_wins"]["asof_dt_us"] == 2_000_000
    # exact-timestamp match counts as backward with dt 0
    assert out["exact"]["mark_asof"] == 40.0 and out["exact"]["asof_dt_us"] == 0
    # 20 -> 18 (-2s) vs 22 (+2s): equal distance -> backward wins
    assert out["tie"]["mark_asof"] == 180.0
    assert out["tie"]["asof_dt_us"] == -2_000_000
    # key 2 has no right rows within tolerance
    assert out["no_match"]["mark_asof"] is None
    assert out["no_match"]["asof_dt_us"] is None


def test_ar1_fit_alternating_and_linear(spark):
    from cesium_spark.operators.tsstats import ar1_fit

    # alternating 1,2,1,2,... -> exact phi = -1, c = 3, zero residual,
    # no half-life (phi <= 0); linear ramp -> phi = 1 (unit root), no
    # half-life either
    spec = [("alt", h, 1 if h % 2 == 0 else 2) for h in range(10)]
    spec += [("lin", h, h + 1) for h in range(10)]
    out = {r["event_type"]: r
           for r in ar1_fit(_hourly_events(spark, spec)).collect()}
    a = out["alt"]
    assert a["n_pairs"] == 9 and a["phi"] == -1.0 and a["intercept"] == 3.0
    assert a["resid_var"] == 0.0 and a["half_life"] is None
    l = out["lin"]
    assert l["phi"] == 1.0 and l["resid_var"] == 0.0
    assert l["half_life"] is None


def test_seasonal_strength_separates_regimes(spark):
    import pyspark.sql.functions as F

    from cesium_spark.operators.tsstats import seasonal_strength

    rows = []
    pat = [5.0, 1.0, 8.0, 2.0, 9.0, 3.0, 7.0, 1.0, 6.0, 2.0, 8.0, 4.0,
           9.0, 1.0, 5.0, 3.0, 7.0, 2.0, 6.0, 4.0, 8.0, 1.0, 9.0, 3.0]
    for h in range(96):
        rows.append((1, float(h * 3600), pat[h % 24]))   # purely seasonal
        rows.append((2, float(h * 3600), float(h)))       # pure ramp
    ev = spark.createDataFrame(rows, "user_id int, sec double, value double") \
        .select("user_id", F.timestamp_seconds("sec").alias("ts"), "value")
    out = {r["user_id"]: r for r in seasonal_strength(ev).collect()}
    assert out[1]["seasonal_strength"] > out[1]["trend_strength"]
    assert out[1]["seasonal_strength"] > 0.8
    assert out[2]["trend_strength"] > 0.9
    assert out[2]["trend_strength"] > out[2]["seasonal_strength"]


def test_chunk_documents_overlap_and_tail(spark):
    import pytest as _pytest

    from cesium_spark.operators.text import chunk_documents

    text = "".join(chr(ord("a") + (i % 26)) for i in range(1000))
    docs = spark.createDataFrame(
        [(1, text), (2, "short"), (3, ""), (4, None)],
        "doc_id long, text string")
    out = chunk_documents(docs, window=400, stride=300).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["start_char"] for r in c1] == [0, 300, 600, 900]
    assert [r["n_chars"] for r in c1] == [400, 400, 400, 100]
    # consecutive chunks overlap by window - stride chars
    assert c1[0]["chunk_text"][300:] == c1[1]["chunk_text"][:100]
    assert c1[3]["chunk_text"] == text[900:]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short"
    assert 3 not in by_doc and 4 not in by_doc   # empty/NULL emit nothing
    with _pytest.raises(ValueError):
        chunk_documents(docs, window=100, stride=200)


def test_sax_discords_flags_rare_shape(spark):
    from cesium_spark.operators.symbolic import sax_discords

    # 3 windows of the common square shape, 1 window inverted -> the
    # inverted word is the rank-1 discord, stamped with its start hour
    common = [1, 1, 9, 9, 9, 9, 1, 1]
    rare = [9, 9, 1, 1, 1, 1, 9, 9]
    vals = common * 2 + rare + common
    ev = _hourly_events(spark, [("sq", h, vals[h]) for h in range(32)])
    out = sorted(sax_discords(ev, win=8, paa=4, top=2).collect(),
                 key=lambda r: r["rank"])
    assert out[0]["word"] == "daad" and out[0]["n_windows"] == 1
    assert out[0]["first_win_start"].hour == 16
    assert out[1]["word"] == "adda" and out[1]["n_windows"] == 3


def test_label_outliers_flags_planted_outlier(spark):
    from cesium_spark.operators.linalg import label_outliers

    rows = [(i, [1.0 + 0.01 * i, 2.0], 0) for i in range(8)]
    rows.append((99, [50.0, -40.0], 0))           # planted outlier
    rows += [(100 + i, [0.0, float(i)], 1) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = label_outliers(emb, k=3).collect()
    top = {r["label"]: r for r in out if r["rank"] == 1}
    assert top[0]["vec_id"] == 99 and top[0]["z"] > 2.0
    # label 1's spread is real but small; its top outlier is an endpoint
    assert top[1]["vec_id"] in (100, 103)


def test_chunk_dup_stats_cross_doc_blocks(spark):
    from cesium_spark.operators.text import chunk_dup_stats

    boiler = "x" * 10
    docs = spark.createDataFrame(
        [(1, boiler + "uniqueAAAA"), (2, boiler + "uniqueBBBB"),
         (3, "totally-diff")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in chunk_dup_stats(docs, block=10).collect()}
    # docs 1 and 2 share their first 10-char block; their tails differ
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup"] == 1
    assert out[1]["dup_frac"] == 0.5 and out[2]["dup_frac"] == 0.5
    assert out[3]["n_dup"] == 0 and out[3]["dup_frac"] == 0.0


def test_intermittency_quadrants(spark):
    from cesium_spark.operators.intermittent import intermittency_profile

    spec = []
    # smooth: a demand every hour, near-constant sizes
    spec += [("sm", h, 3 if h % 2 == 0 else 4) for h in range(20)]
    # intermittent: every 3rd hour, constant size
    spec += [("it", h, 2) for h in range(0, 30, 3)]
    # erratic: every hour, wildly varying sizes
    spec += [("er", h, 1 if h % 2 == 0 else 20) for h in range(20)]
    # lumpy: sparse AND wildly varying
    spec += [("lu", h, 1 if (h // 3) % 2 == 0 else 25)
             for h in range(0, 36, 3)]
    out = {r["event_type"]: r
           for r in intermittency_profile(_hourly_events(spark, spec)).collect()}
    assert out["sm"]["pattern"] == "smooth" and out["sm"]["adi"] == 1.0
    assert out["it"]["pattern"] == "intermittent" and out["it"]["adi"] == 3.0
    assert out["it"]["cv2"] == 0.0
    assert out["er"]["pattern"] == "erratic"
    assert out["lu"]["pattern"] == "lumpy"


def test_croston_constant_demand_exact(spark):
    from cesium_spark.operators.intermittent import croston_forecast

    # size 2 every 4 hours: z stays 2, p stays 4 -> rate exactly 0.5,
    # SBA = 0.95 * 0.5
    ev = _hourly_events(spark, [("c", h, 2) for h in range(0, 40, 4)])
    r = croston_forecast(ev, alpha=0.1).collect()[0]
    assert r["n_demands"] == 10
    assert r["z"] == 2.0 and r["p"] == 4.0
    assert r["croston_rate"] == 0.5 and r["sba_rate"] == 0.475
    # single-demand series emit nothing
    one = _hourly_events(spark, [("x", 5, 3)])
    assert croston_forecast(one).count() == 0


def test_spectral_power_pure_daily_tone(spark):
    import math

    from cesium_spark.operators.symbolic import spectral_power

    # counts follow a pure 24 h cosine (offset to stay positive):
    # daily power ~1, weekly power ~0
    spec = [("tone", h, 10 + round(5 * math.cos(2 * math.pi * h / 24)))
            for h in range(96)]
    out = {r["period_hours"]: r
           for r in spectral_power(_hourly_events(spark, spec)).collect()}
    assert out[24]["power_frac"] > 0.95
    assert out[168]["power_frac"] < 0.2


def test_forecast_tournament_hod_wins_on_periodic(spark):
    from cesium_spark.operators.forecast_eval import forecast_tournament

    # strong 24h pattern sustained through the tail -> the HOD profile
    # must beat the flat forecasters; a short series emits nothing
    pat = [1, 1, 1, 1, 1, 1, 9, 9, 9, 9, 9, 9] * 2
    spec = [("per", h, pat[h % 24]) for h in range(24 * 6)]
    spec += [("short", h, 2) for h in range(30)]
    out = forecast_tournament(_hourly_events(spark, spec),
                              holdout_hours=48).collect()
    assert [r["event_type"] for r in out] == ["per"]
    r = out[0]
    assert r["winner"] == "seasonal_hod" and r["mae_hod"] == 0.0
    assert r["n_head"] == 96 and r["n_tail"] == 48
    assert r["mae_persistence"] > 0 and r["mae_holt"] > 0
