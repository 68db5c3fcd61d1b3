"""Spark-side kernel tests: the batched featurization equals the direct
numpy kernel on identical data; results are invariant to partitioning and
input row order; tumbling windows group correctly."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.datagen import generate_transcripts
from cesium_spark.features.registry import compute_features
from cesium_spark.kernel import featurize, SECONDS_PER_DAY
from cesium_spark.operators.rollup import rollup_kernel

FEATS = [
    "n_epochs", "mean", "std", "amplitude", "total_time", "avgt",
    "cads_avg", "cads_med", "cads_std", "median", "median_absolute_deviation",
    "skew", "stetson_j", "weighted_average", "max_slope",
]


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, n_convs=30, seed=7, max_turns=3000).cache()
    df.count()
    return df


def _oracle(pdf: pd.DataFrame, feats) -> dict:
    pdf = pdf.sort_values(["ts", "turn_idx"], kind="stable")
    us = ((pdf["ts"] - pd.Timestamp(0)).to_numpy().astype("timedelta64[us]")).astype(np.int64)
    t = us.astype(np.float64) / (SECONDS_PER_DAY * 1e6)
    m = pdf["text"].str.len().to_numpy(dtype=np.float64)
    e = np.full(len(pdf), 1e-4)
    return compute_features(t, m, e, feats)


def test_whole_conversation_featurize_matches_numpy(spark, transcripts):
    result = featurize(transcripts, FEATS).toPandas().set_index("conv_id")
    local = transcripts.toPandas()
    assert len(result) == local["conv_id"].nunique()
    for conv_id, g in local.groupby("conv_id"):
        want = _oracle(g, FEATS)
        for f in FEATS:
            npt.assert_allclose(
                result.loc[conv_id, f], want[f], rtol=1e-12, atol=1e-12,
                err_msg=f"{conv_id}.{f}",
            )


def test_partitioning_invariance(spark, transcripts):
    a = featurize(transcripts.repartition(1), FEATS).toPandas()
    b = featurize(transcripts.repartition(16), FEATS).toPandas()
    a = a.sort_values("conv_id").reset_index(drop=True)
    b = b.sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)  # bit-exact, not approx


def test_row_order_invariance(spark, transcripts):
    shuffled = transcripts.orderBy(F.md5(F.concat_ws("|", "conv_id", "turn_idx")))
    a = featurize(transcripts, FEATS).toPandas().sort_values("conv_id").reset_index(drop=True)
    b = featurize(shuffled, FEATS).toPandas().sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_windowed_featurize_matches_pandas_grouping(spark, transcripts):
    feats = ["n_epochs", "mean", "amplitude", "std"]
    result = rollup_kernel(transcripts, feats, "1h").toPandas()
    local = transcripts.toPandas()
    local["window_start"] = local["ts"].dt.floor("h")
    assert len(result) == local.groupby(["conv_id", "window_start"]).ngroups
    merged = result.set_index(["conv_id", "window_start"])
    for (cid, ws), g in local.groupby(["conv_id", "window_start"]):
        want = _oracle(g, feats)
        got = merged.loc[(cid, ws)]
        for f in feats:
            npt.assert_allclose(got[f], want[f], rtol=1e-12, err_msg=f"{cid}@{ws}.{f}")


def test_duplicate_ts_tie_broken_by_turn_idx(spark):
    # two rows with identical ts: stable order must be by turn_idx
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [2, 0, 1],
            "role": ["user"] * 3,
            "text": ["aa", "bbbb", "c"],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2025-01-01 00:00:05", "2025-01-01 00:00:00",
                                  "2025-01-01 00:00:05"]),
        }
    )
    df = spark.createDataFrame(pdf)
    got = featurize(df, ["max_slope", "n_epochs"]).toPandas()
    # sorted series: (t=0,m=4), (t=5,m=1 [idx1]), (t=5,m=2 [idx2])
    t0 = 5.0 / SECONDS_PER_DAY
    slopes = [abs((1 - 4) / t0)]  # dt=0 pair excluded -> inf; cesium keeps inf
    assert got["n_epochs"][0] == 3
    assert np.isinf(got["max_slope"][0])  # zero-gap duplicate -> inf slope


def test_text_byte_equality_survives_generation(spark, transcripts):
    # the generator is deterministic: same seed -> byte-identical text
    a = generate_transcripts(spark, n_convs=5, seed=7).toPandas()
    b = generate_transcripts(spark, n_convs=5, seed=7, partitions=3).toPandas()
    key = ["conv_id", "turn_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert (a["text"] == b["text"]).all()
    assert (a["ts"] == b["ts"]).all()


def test_batched_windows_equal_compute_features(spark, transcripts):
    """Each (conv_id, 1-hour window) row of the batched kernel equals the
    reference compute_features over that window's rows in (t, turn_idx)
    order, bit for bit."""
    feats = ["n_epochs", "mean", "std", "median", "stetson_j", "cads_avg"]
    got = rollup_kernel(transcripts, feats, "1h") \
        .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    local = transcripts.toPandas()
    local["window_start"] = local["ts"].dt.floor("h")
    want = pd.DataFrame([
        {"conv_id": c, "window_start": w, **_oracle(g, feats)}
        for (c, w), g in local.groupby(["conv_id", "window_start"])
    ])
    pd.testing.assert_frame_equal(got, want[got.columns])


def test_custom_functions_through_spark(spark, transcripts):
    """User-supplied feature callables (cesium custom_functions) evaluate
    per group through the Spark kernel (forces the per-group path)."""
    custom = {
        "m_range": lambda t, m, e: np.max(m) - np.min(m),
        "mean_minus_median": (lambda a, b: a - b, "mean", "median"),
    }
    out = featurize(transcripts, ["mean", "m_range", "mean_minus_median"],
                    custom_functions=custom).toPandas().set_index("conv_id")
    local = transcripts.toPandas()
    for cid, g in local.groupby("conv_id"):
        m = g["text"].str.len().to_numpy(dtype=float)
        npt.assert_allclose(out.loc[cid, "m_range"], m.max() - m.min(), rtol=1e-12)
        npt.assert_allclose(out.loc[cid, "mean_minus_median"],
                            m.mean() - np.median(m), rtol=1e-12)


def test_timestamp_ntz_input(spark, tmp_path):
    """Driver parquet carries TIMESTAMP_NTZ; the kernel must produce the
    same values as with TIMESTAMP input (regression guard for ts_micros)."""
    pdf = pd.DataFrame({
        "conv_id": ["a"] * 5, "turn_idx": range(5), "role": "user",
        "text": ["x" * (i + 1) for i in range(5)], "tool": "",
        "ts": pd.date_range("2025-01-01", periods=5, freq="min"),
    })
    tz_df = spark.createDataFrame(pdf)
    p = str(tmp_path / "ntz")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    tz_df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    ).write.mode("overwrite").parquet(p)
    ntz_df = spark.read.parquet(p)
    assert dict(ntz_df.dtypes)["ts"] == "timestamp_ntz"
    feats = ["n_epochs", "mean", "total_time", "cads_avg"]
    a = featurize(tz_df, feats).toPandas()
    b = featurize(ntz_df, feats).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_raise_exceptions_failure_policy(spark):
    """Reference parity for the public failure policy
    (/root/reference/cesium/featurize.py:76-95 and
    tests/test_featurize.py:301-321): a custom feature that throws yields
    NaN columns by default and re-raises when raise_exceptions=True."""
    import numpy as np
    import pytest
    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.kernel import featurize

    df = generate_transcripts(spark, n_convs=3, seed=2)

    def poisoned(t, m, e):
        raise RuntimeError("boom")

    out = featurize(
        df, ["mean", "poisoned"], custom_functions={"poisoned": poisoned}
    ).toPandas()
    assert np.isnan(out["poisoned"]).all()
    assert np.isfinite(out["mean"]).all()  # healthy columns unaffected

    with pytest.raises(Exception, match="boom"):
        featurize(
            df, ["mean", "poisoned"],
            custom_functions={"poisoned": poisoned},
            raise_exceptions=True,
        ).collect()


def test_public_api_featurize_time_series(spark):
    """cesium's top-level entry points (featurize.py:25-291) port
    verbatim: single series, list of series, (p, n) multichannel, and
    the Spark path equals the driver-side single-ts evaluation."""
    import numpy as np
    from cesium_spark.api import featurize_single_ts, featurize_time_series

    rng = np.random.RandomState(4)
    t = np.sort(rng.uniform(0, 10, 60))
    m = rng.normal(10, 2, 60)
    feats = ["n_epochs", "mean", "std", "amplitude", "median", "stetson_k"]

    single = featurize_single_ts(t, m, features_to_use=feats)
    fset = featurize_time_series(spark, t, m, features_to_use=feats)
    assert list(fset.index) == ["0"]
    for f in feats:
        np.testing.assert_allclose(fset.loc["0", f], single[f], rtol=1e-12)

    # list of series with names
    t2, m2 = np.sort(rng.uniform(0, 5, 40)), rng.normal(0, 1, 40)
    multi = featurize_time_series(
        spark, [t, t2], [m, m2], features_to_use=feats, names=["x", "y"])
    assert sorted(multi.index) == ["x", "y"]
    np.testing.assert_allclose(multi.loc["x", "mean"], single["mean"], rtol=1e-12)

    # (p, n) multichannel with shared 1-d t -> {feature}_{channel} columns
    mm = np.vstack([m, m * 2])
    wide = featurize_time_series(spark, t, mm, features_to_use=["mean", "std"])
    assert set(wide.columns) == {"mean_0", "std_0", "mean_1", "std_1"}
    np.testing.assert_allclose(wide.loc["0", "mean_1"], 2 * single["mean"], rtol=1e-12)

    # reference default: raise_exceptions=True on the public surface
    import pytest

    def boom(t, m, e):
        raise RuntimeError("kaput")

    with pytest.raises(Exception, match="kaput"):
        featurize_time_series(
            spark, t, m, features_to_use=["boom"],
            custom_functions={"boom": boom})
