"""Physical-plan regression guards: the plan properties PLANS.md claims
are asserted here so a refactor that silently degrades the plan (extra
shuffle, lost pushdown, per-row Python) fails CI, not a benchmark."""

import pytest
from pyspark.sql import functions as F

from cesium_spark.datagen import generate_transcripts
from cesium_spark.kernel import featurize
from cesium_spark.operators.compress import compress_blocks
from cesium_spark.operators.downsample import lttb_downsample
from cesium_spark.operators.funnel import funnel_conversion
from cesium_spark.operators.locf import locf_grid
from cesium_spark.operators.rollup import rollup_kernel, rollup_sql


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """Parquet-backed input: plans must be judged against a real file
    scan (datagen's own MapInPandas lineage would pollute the asserts)."""
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    generate_transcripts(spark, n_convs=6, seed=21).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df):
    return df._jdf.queryExecution().toString()


GROUPED_OPERATORS = {
    "featurize": lambda df: featurize(df, ["n_epochs", "mean", "std"]),
    "rollup_kernel_1h": lambda df: rollup_kernel(df, ["n_epochs", "median"], "1h"),
    "lttb_downsample": lambda df: lttb_downsample(df, n_out=20),
    "compress_blocks": lambda df: compress_blocks(df, "1h"),
    "funnel_conversion": lambda df: funnel_conversion(
        df, ["user", "assistant"], key_col="conv_id", type_col="role",
        tiebreak_col="turn_idx"),
}


@pytest.mark.parametrize("op", list(GROUPED_OPERATORS))
def test_featurize_single_exchange(spark, tiny, op):
    """Every batched grouped operator (one `map_sorted_groups` pass):
    exactly ONE hash-partitioning exchange (on the group key) and ONE
    MapInPandas; the secondary sort stays in-partition."""
    plan = GROUPED_OPERATORS[op](tiny)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == 1


def test_bucket_rollup_one_exchange_one_python_pass(spark, tiny):
    """The rollup job's bucket pass: every tier from ONE exchange and ONE
    MapInPandas, over a scan that prunes on the bucket's ts range."""
    import datetime as dt

    from cesium_spark.jobs import bucket_rollup

    days = [dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)]
    out = bucket_rollup(tiny, days, 10**6, ("1m", "1h", "1d"), ["n_epochs", "median"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == 1
    pushed = plan.split("PushedFilters: [")[-1].split("]")[0]
    assert "GreaterThanOrEqual(ts,2025-01-01" in pushed
    assert "LessThan(ts,2025-01-03" in pushed


def test_rollup_sql_is_pure_jvm_with_partial_agg(spark, tiny):
    """The fast lane: no Python anywhere, map-side partial aggregation
    before the single exchange."""
    plan = _plan(rollup_sql(tiny, "1h"))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # partial_ aggregate functions appear before the exchange
    assert "partial_" in plan


def test_locf_has_no_python(spark, tiny):
    plan = _plan(locf_grid(tiny, "1h"))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_horizon_filter_pushed_to_parquet_scan(spark, tiny, tmp_path):
    """Tier-horizon predicates must reach the parquet scan as
    PushedFilters — at 10^12 turns this is partition pruning, not a
    post-scan filter."""
    from cesium_spark.sources.transcripts import read_transcripts

    path = str(tmp_path / "t")
    tiny.write.mode("overwrite").parquet(path)
    df = read_transcripts(
        spark, path, horizon=("2025-01-01", "2025-01-02"))
    plan = _plan(df.select("conv_id", "ts"))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan
    # column pruning: text/tool/role never leave the footer
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "text" not in read_schema and "conv_id" in read_schema


def test_narrow_projection_before_kernel_shuffle(spark, tiny, tmp_path):
    """The featurize shuffle carries only (key, t, m, e, _ord) — the text
    column is consumed by length() at scan time and never shuffled."""
    path = str(tmp_path / "t2")
    tiny.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    import re

    out = featurize(df, ["mean"])
    plan = _plan(out)
    exchange_input = plan.split("Exchange hashpartitioning")[1].split("FileScan")[0]
    # text may appear INSIDE length(text#N) (consumed at scan time) but
    # must not be a bare output column of the pre-shuffle projection
    assert re.search(r"Project \[[^\]]*\]", exchange_input)
    assert not re.search(r"[,\[] ?text#\d+[,\]]", exchange_input)
    assert "length(text" in exchange_input  # consumed into m, not carried


def test_token_topk_plan_is_distributed_topk(spark):
    """The global top-k must compile to TakeOrderedAndProject (per-
    partition heaps + k-row merge) — a global row_number() window would
    sort the whole vocabulary in one task, which dies at corpus scale."""
    from cesium_spark.operators.text import token_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i}") for i in range(30)], "doc_id int, text string")
    plan = token_topk(docs, k=5)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in phys


def test_dup_spans_plan_pruned_and_skew_safe(spark, tmp_path):
    """duplicate_token_spans: parquet scan pruned to (id, text) only,
    and the hot-span count is a groupBy (partial agg absorbs unbounded
    span hotness) rather than a window that would concentrate a
    boilerplate span's rows in one task."""
    from cesium_spark.operators.dedup import duplicate_token_spans

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"some text body number {i}", "extra", 1.5) for i in range(10)],
        "doc_id long, text string, unused_col string, unused_num double",
    ).write.parquet(p)
    out = duplicate_token_spans(spark.read.parquet(p))
    plan = out._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "unused_col" not in phys and "unused_num" not in phys
    assert "HashAggregate" in phys
    # the count side is an aggregate, not a window over the span key
    assert "windowspecdefinition(key" not in phys.lower()


def test_lttb_single_exchange(spark, tmp_path):
    """lttb_downsample: one repartition on the series key feeds the
    in-partition sort + mapInPandas — no extra shuffles."""
    from cesium_spark.operators.downsample import lttb_downsample

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)],
        "event_id long, user_id long, value double",
    ).selectExpr("event_id", "user_id", "value",
                 "timestamp '2024-01-01' + make_interval(0,0,0,0,0,0,event_id) AS ts") \
        .write.parquet(p)
    out = lttb_downsample(
        spark.read.parquet(p), n_out=5, key_col="user_id",
        tiebreak_col="event_id", value="value")
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 1
    assert "MapInPandas" in phys


def test_repetition_stats_is_map_only(spark, tmp_path):
    """repetition_stats: every measure is a per-document function, so
    the plan is ONE vectorized Arrow pass over the scan — zero
    shuffles, no windows (the explode+groupBy formulation this
    replaced cost 24x more wall at sf0.1)."""
    from cesium_spark.operators.text import repetition_stats

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b a b c d" * (i % 3 + 1)) for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = repetition_stats(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert "Window" not in phys
    assert "ArrowEvalPython" in phys  # the sanctioned vectorized path


def test_kmeans_assignment_is_map_only(spark, tmp_path):
    """k-means: the assignment pass is a pure projection over the scan
    (no Exchange, no Python) — centroids ride inline; only the update
    aggregation shuffles (k x dim partials)."""
    from cesium_spark.operators.kmeans import _assign, _rounded_vec

    p = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), float(i % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    v = _rounded_vec("embedding", 6)
    out = _assign(df, "vec_id", v, [(0, [0.0, 0.0]), (1, [10.0, 1.0])],
                  6, with_vec=False)
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert "Python" not in phys


def test_c4_line_filter_is_map_only_jvm(spark, tmp_path):
    """C4 cleaning is a pure per-document function of the text: the
    plan must be a single JVM projection over the scan — zero
    Exchanges, no Window, and NO Python at all (every rule is a
    built-in string/array expression)."""
    from cesium_spark.operators.text import c4_line_filter

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "A fine sentence with enough words.\nShort one.") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = c4_line_filter(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert "Window" not in phys
    assert "Python" not in phys


def test_series_trend_is_single_partial_agg_shuffle(spark, tmp_path):
    """series_trend: the regr_* aggregates are mergeable, so the plan
    is partial HashAggregate -> ONE Exchange on the series key ->
    final HashAggregate, with no Window and no Python."""
    from cesium_spark.operators.tsstats import series_trend

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 5, float(i), float(i) * 0.5) for i in range(100)],
        "user_id long, ts double, value double",
    ).write.parquet(p)
    out = series_trend(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 1
    assert "Window" not in phys and "Python" not in phys
    assert phys.count("HashAggregate") >= 2  # partial + final


def test_gopher_quality_is_map_only_jvm(spark, tmp_path):
    """Gopher quality rules are per-document string/array expressions:
    zero Exchanges, no Window, no Python."""
    from cesium_spark.operators.text import gopher_quality_filter

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "the data and that have to be of good words here") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = gopher_quality_filter(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert "Window" not in phys and "Python" not in phys


def test_funnel_single_exchange_arrow_pass(spark, tmp_path):
    """funnel_conversion: narrow projection -> ONE Exchange on the
    series key -> partition-local sort -> one Arrow map pass; no
    Window, no extra shuffle."""
    from cesium_spark.operators.funnel import funnel_conversion

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 5, float(i), i, ["view", "click", "purchase"][i % 3])
         for i in range(60)],
        "user_id long, ts double, event_id long, event_type string",
    ).write.parquet(p)
    out = funnel_conversion(spark.read.parquet(p), ["view", "click"])
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 1
    assert "Window" not in phys
    assert "ArrowEvalPython" in phys or "MapInPandas" in phys


def test_drawdown_single_exchange_shared_partitioning(spark, tmp_path):
    """drawdown_stats: the cumulative window and the final aggregate
    share one partitioning — exactly one Exchange, no Python."""
    from cesium_spark.operators.tsstats import drawdown_stats

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 5, float(i), i, float((i * 7) % 13)) for i in range(100)],
        "user_id long, ts double, event_id long, value double",
    ).write.parquet(p)
    out = drawdown_stats(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 1
    assert "Python" not in phys


def test_normalize_text_single_arrow_pass_no_shuffle(spark, tmp_path):
    """normalize_text: ONE ArrowEvalPython (the NFC pass) + JVM
    projection — zero Exchanges."""
    from cesium_spark.operators.text import normalize_text

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "Some  TEXT here") for i in range(10)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = normalize_text(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert phys.count("ArrowEvalPython") == 1


def test_script_profile_is_map_only_jvm(spark, tmp_path):
    """script_profile: pure JVM projection — zero Exchanges, no
    Python at all."""
    from cesium_spark.operators.text import script_profile

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "abc 123") for i in range(10)], "doc_id long, text string",
    ).write.parquet(p)
    out = script_profile(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange") == 0
    assert "Python" not in phys


def test_ewma_level_single_sort_shuffle_jvm(spark, tmp_path):
    """ewma_level: ONE hash exchange on the series key (the Window's),
    the groupBy reuses that partitioning (AQE sees the co-partitioning;
    no second hashpartitioning of the event stream), no Python."""
    import datetime as dt

    from cesium_spark.operators.robust import ewma_level

    p = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i % 5, t0 + dt.timedelta(hours=i), i, float(i)) for i in range(100)],
        "user_id long, ts timestamp, event_id long, value double",
    ).write.parquet(p)
    out = ewma_level(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Exchange hashpartitioning") == 1
    assert "Python" not in phys
    assert "Window" in phys


def test_theilsen_slopes_broadcast_back(spark, tmp_path):
    """theilsen_trend: the per-key slope relation joins back onto the
    decimated points as a BROADCAST join (it is key-cardinality-sized),
    and the quadratic pair join shuffles each side on the key at most
    once — no cartesian product anywhere."""
    import datetime as dt

    from cesium_spark.operators.robust import theilsen_trend

    p = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i % 5, t0 + dt.timedelta(hours=i), i, float(i)) for i in range(100)],
        "user_id long, ts timestamp, event_id long, value double",
    ).write.parquet(p)
    out = theilsen_trend(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoop" not in phys
    assert "CartesianProduct" not in phys
    assert "Python" not in phys


def test_xcorr_types_partial_aggs_no_python(spark, tmp_path):
    """xcorr_types: hourly rollup and the final co-moment groupBy are
    both partial-aggregable JVM HashAggregates; the type-pair join is
    an equi-join on (key, hour) — no cartesian, no Python."""
    import datetime as dt

    from cesium_spark.operators.robust import xcorr_types

    p = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (i % 3, t0 + dt.timedelta(hours=i % 7), "t" + str(i % 2), float(i))
            for i in range(100)
        ],
        "user_id long, ts timestamp, event_type string, value double",
    ).write.parquet(p)
    out = xcorr_types(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys and "Python" not in phys
    assert "partial_" in phys


def test_hampel_single_fused_window(spark, tmp_path):
    """hampel_outliers: all three rolling quantiles + the frame count
    share one frame, so the plan has exactly ONE Window node and ONE
    sort-shuffle; the fence filter is map-only JVM."""
    from cesium_spark.operators.analytics import hampel_outliers

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 3, float(i), i, float(i % 11)) for i in range(90)],
        "user_id long, ts double, event_id long, value double",
    ).write.parquet(p)
    out = hampel_outliers(spark.read.parquet(p), ts_col="ts")
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert phys.count("Window") == 1
    assert phys.count("Exchange hashpartitioning") == 1
    assert "Python" not in phys


def test_cohort_retention_broadcast_sizes_no_cartesian(spark, tmp_path):
    """cohort_retention: the cohort-size relation joins back by
    broadcast; the user-key join is an equi-join (no cartesian); the
    dedup + cell count are partial-aggregable."""
    import datetime as dt

    from cesium_spark.operators.analytics import cohort_retention

    p = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i % 7, t0 + dt.timedelta(days=i % 21)) for i in range(200)],
        "user_id long, ts timestamp",
    ).write.parquet(p)
    out = cohort_retention(spark.read.parquet(p))
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys and "Python" not in phys


def test_hll_partial_agg_before_shuffle(spark, tmp_path):
    """hll_distinct: the bucket groupBy partial-aggregates map-side
    (every partition reduces to <= 2^p rows before the only exchange)
    and the whole pass is JVM expressions, no Python."""
    from cesium_spark.operators.sketch import hll_distinct

    p = str(tmp_path / "toks")
    spark.createDataFrame(
        [(f"tok-{i % 500}",) for i in range(5000)], "tok string"
    ).write.parquet(p)
    out = hll_distinct(spark.read.parquet(p), "tok")
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert "partial_max" in phys or "partial_" in phys
    assert "Python" not in phys
    assert "CartesianProduct" not in phys


def test_weighted_sample_take_ordered_not_global_sort(spark, tmp_path):
    """weighted_sample: orderBy().limit(n) plans TakeOrderedAndProject
    (per-partition partial top-n), never a global Sort+Exchange."""
    from cesium_spark.operators.split import weighted_sample

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, float(i % 50 + 1)) for i in range(500)],
        "doc_id long, n_chars double",
    ).write.parquet(p)
    out = weighted_sample(spark.read.parquet(p), n=20)
    phys = out._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in phys
    assert "Python" not in phys


def test_turn_stats_single_exchange_no_python(spark):
    """The turn-analytics lag window's hash partitioning must be reused
    by the same-key groupBy: exactly ONE Exchange, zero Python."""
    from cesium_spark.operators.turns import turn_stats

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(turn_stats(ev, key_col="user_id", role_col="event_type",
                            ts_col="ts", id_col="event_id"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_cms_counter_state_broadcast_not_cartesian(spark):
    """The d*w counter relation must reach the candidate probe as a
    broadcast (it is bounded by construction); no cartesian product,
    and the top-k must be distributed TakeOrderedAndProject."""
    from cesium_spark.operators.sketch import cms_heavy_hitters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(cms_heavy_hitters(docs, d=4, w=128, k=20))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ks_by_group_reduces_before_shuffle(spark):
    """Both event streams must collapse to distinct-value count rows
    map-side (partial aggregation) before any join/window; no
    broadcast of a stream-sized relation is required for correctness,
    but partial_count must appear under the first aggregate."""
    from pyspark.sql import functions as F

    from cesium_spark.operators.drift import ks_by_group

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(ks_by_group(ev.filter(F.col("event_id") % 2 == 0),
                             ev.filter(F.col("event_id") % 2 == 1)))
    assert "partial_count" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_asof_nearest_one_exchange_no_join(spark):
    """Nearest as-of is the union-window construction: ONE exchange on
    the series key feeding both Window passes, no join node, no
    Python."""
    from pyspark.sql import functions as F

    from cesium_spark.operators.asof import asof_nearest

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    right = (ev.filter(F.col("event_id") % 37 == 0)
             .groupBy("user_id", "ts").agg(F.max("value").alias("mark")))
    left = ev.filter(F.col("event_id") % 37 != 0).select(
        "user_id", "event_id", "ts", "value")
    plan = _plan(asof_nearest(left, right, key_col="user_id",
                              value_cols=["mark"]))
    # union side aggregates once (partial+final pair may add its own
    # exchange); the as-of itself must add exactly one key exchange and
    # never a join
    assert "Join" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_leadlag_lag_dimension_broadcasts(spark):
    """The ±max_lag shift enumeration must reach the hour join as a
    broadcast (13-row dimension), never a shuffle side; no cartesian
    on data-sized relations; all JVM."""
    from cesium_spark.operators.tsstats import leadlag_xcorr

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(leadlag_xcorr(ev, max_lag=6))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_holt_fold_stays_jvm(spark):
    """The Holt recursion is a JVM `aggregate` over per-key ordered
    arrays: no Python evaluator anywhere in the plan."""
    from cesium_spark.operators.tsstats import holt_linear

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(holt_linear(ev))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_perm_entropy_single_sort_window_jvm(spark):
    """Both leads must fuse into ONE Window node over one sort; the
    pattern aggregate is partial-aggregable; no Python."""
    from cesium_spark.operators.symbolic import perm_entropy

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = perm_entropy(ev)
    phys = df._jdf.queryExecution().executedPlan().toString()
    # grid row_number + the fused lead pair + the pattern-total sum:
    # exactly three Window nodes, the two leads in ONE of them
    assert phys.count("Window [") == 3
    assert phys.count("lead(") == 2
    plan = _plan(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_markov_nll_matrix_broadcasts_no_python(spark):
    """The |types|^2 matrix must broadcast onto the per-actor count
    relation (never shuffle the tall side on the pair key), and the
    whole scorer stays JVM-side."""
    from cesium_spark.operators.markov import markov_nll

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(markov_nll(ev))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_survival_horizon_dim_broadcasts_no_python(spark):
    """The horizons dim is a handful of literal rows: it must reach the
    gap relation as a broadcast nested-loop (no shuffle of the tall side),
    and the whole operator is ONE scan + lag window + ONE bounded agg —
    censored waits are counted inside the same aggregate, never via a
    second pass over the stream."""
    from cesium_spark.operators.survival import interevent_survival

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(interevent_survival(ev))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # lag window +
    # (type, horizon) agg; the tall side never reshuffles on the horizon key
    assert plan.count("FileScan parquet") == 1  # single pass
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_benford_digit_spine_broadcasts_no_python(spark):
    """Digit extraction is a map-only projection; the 9-row spine and
    the per-group MAD relation must broadcast; zero Python."""
    from cesium_spark.operators.analytics import benford_screen

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(benford_screen(ev))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_session_concurrency_no_global_window(spark):
    """The sweep must never form a totally-ordered single partition:
    every Window in the plan carries a partitionBy (the minute
    aggregation bounds rows per hour, the prefix scan partitions by
    hour). A global ORDER BY sweep would die at fleet scale."""
    from cesium_spark.operators.sessionize import session_concurrency

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(session_concurrency(
        ev, gap_minutes=30, key_col="user_id", ts_col="ts",
        tiebreak_col="event_id"))
    # a partition-less Window prints as "Window [...], [...]" with no
    # partition spec -> its Exchange shows SinglePartition
    assert "SinglePartition" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_lb_keogh_is_jvm_only_position_join(spark):
    """The LB_Keogh bound is one position equi-join + partial-aggregable
    groupBy: no Python, no cartesian; the exact DP (applyInPandas) only
    enters in dtw_nearest, strictly after the shortlist cut."""
    from cesium_spark.operators.dtw import daily_z_grid, lb_keogh_pairs

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(lb_keogh_pairs(daily_z_grid(ev), band=7, shortlist=5))
    assert "Cartesian" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_km_survival_bounded_windows_single_materialization(spark):
    """KM machinery: the stream is scanned once (the bucket relation is
    lineage-truncated before its two consumers), the risk-set and step
    windows partition by type over the (types x h_max)-bounded grid,
    and nothing is Python."""
    from cesium_spark.operators.survival import km_survival

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(km_survival(ev))
    assert plan.count("FileScan parquet") <= 1  # post-checkpoint branches
    # reuse the materialized bucket relation (Scan ExistingRDD)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_page_hinkley_single_sort_exchange_jvm(spark):
    """Page-Hinkley: the whole detector (running mean, m_t prefix sum,
    running extrema, breach scan) is frames over ONE sort — exactly one
    hash-partitioning Exchange on the key, no Python anywhere."""
    from cesium_spark.operators.drift import page_hinkley

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(page_hinkley(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_hurst_grid_bounded_no_python(spark):
    """Hurst R/S: the x4 explode runs on the GRID relation (post
    hourly aggregate), never on raw events, and the whole analysis is
    JVM-side with no cartesian."""
    from cesium_spark.operators.longmem import _hourly_grid, hurst_from_grid

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # materialize=False: the production path lazily checkpoints the
    # per-size relation (shared by regression + pivot), which truncates
    # the visible lineage; the unmaterialized plan carries the same
    # operator shape this test pins
    plan = _plan(hurst_from_grid(_hourly_grid(ev, ["user_id"], "ts", "value"),
                                 materialize=False))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    # the explode (Generate) must sit ABOVE the hourly aggregate:
    # every Generate in the optimized plan consumes the grid, and the
    # raw scan feeds an Aggregate first
    opt = plan.split("== Optimized Logical Plan ==")[1]
    assert "Generate explode" in opt


def test_holt_winters_fold_stays_jvm(spark):
    """The HW seasonal fold (aggregate + nested transform over the
    24-slot array) compiles to JVM higher-order functions — no Python
    evaluation node."""
    from cesium_spark.operators.tsstats import holt_winters

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(holt_winters(ev))
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_spearman_rank_windows_bounded_relation(spark):
    """Spearman: the rank windows partition the PAIR relation (bounded
    by key-cardinality^2 x hours); no Python, no cartesian, and the
    hour equi-join is a real join (no broadcast of the full grid
    needed for correctness — just no CartesianProduct)."""
    from cesium_spark.operators.tsstats import spearman_types

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(spearman_types(ev))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_lateness_single_sort_exchange(spark):
    """Lateness profile: one hash Exchange (the per-key arrival sort),
    quantiles ride the same aggregate — no second shuffle family."""
    from cesium_spark.operators.lateness import lateness_profile

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(lateness_profile(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan
