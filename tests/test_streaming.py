"""Structured Streaming heads against their batch twins: each file-source
stream, drained with availableNow (restarts included), equals the batch
operator on the same data."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.datagen import generate_transcripts
from cesium_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def _drain_foreach_batch(spark, in_dir, schema, ckpt, batch_fn):
    """One availableNow run of `batch_fn` over the parquet files under
    `in_dir`, restartable from `ckpt`."""
    q = (spark.readStream.schema(schema).parquet(in_dir).writeStream
         .foreachBatch(batch_fn).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Coherence: the native session-window head's closed sessions equal
    the batch sessionize() result on the same data once sentinel events
    (far past the gap) advance the watermark past every real session."""
    from cesium_spark.operators.sessionize import sessionize
    from cesium_spark.streaming.stream import streaming_session_window

    df = generate_transcripts(spark, n_convs=6, seed=17, max_turns=800).cache()
    global_max = df.agg(F.max("ts")).first()[0]
    cutoff = global_max + pd.Timedelta(days=5)
    sentinels = (
        df.select("conv_id").distinct()
        .select("conv_id", F.lit(10**9).alias("turn_idx"), F.lit("user").alias("role"),
                F.lit("sentinel").alias("text"), F.lit("").alias("tool"),
                F.lit(global_max + pd.Timedelta(days=10)).alias("ts"))
    )
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    df.unionByName(sentinels).write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)
    q = (streaming_session_window(src, gap="30 minutes", key_col="conv_id")
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = (
        spark.read.parquet(out_dir).filter(F.col("session_start") < F.lit(cutoff))
        .toPandas()
        .sort_values(["conv_id", "session_start"]).reset_index(drop=True)
    )

    want = (
        sessionize(df, gap_minutes=30)
        .groupBy("conv_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"))
        .drop("session_id")
        .toPandas()
        .sort_values(["conv_id", "session_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_ivf_stream_rejects_zero_max_files_per_trigger(spark, tmp_path):
    """max_files_per_trigger=0 reaches Spark, which fails the query,
    instead of silently draining every file in one batch."""
    from cesium_spark.streaming.stream import start_ivf_index_stream

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame([(0, [1.0, 0.0])], schema).write.parquet(in_dir)
    with pytest.raises(Exception, match="maxFilesPerTrigger"):
        q = start_ivf_index_stream(spark, in_dir, store, ckpt, schema,
                                   max_files_per_trigger=0)
        q.awaitTermination(120)


def test_streaming_states_feed_batch_cascade(spark, tmp_path):
    """The streaming head of the continuous-aggregate cascade: 1m partial
    STATES materialized by Structured Streaming, then rolled to 1h by the
    BATCH cascade (rollup_states) — finalized features must equal the
    all-batch path exactly (same sums, same extrema, same last-value
    rank), proving raw rows never need a second read."""
    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.operators.aggstate import (
        finalize_states, partial_states, rollup_states)
    from cesium_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    df = generate_transcripts(spark, n_convs=4, seed=23).cache()
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    # sentinel events far past the data advance the watermark so APPEND
    # mode finalizes every real window before the availableNow stream
    # ends (their own windows are filtered out below)
    global_max = df.agg(F.max("ts")).first()[0]
    cutoff = global_max + pd.Timedelta(days=5)
    sentinels = (
        df.select("conv_id").distinct()
        .select("conv_id", F.lit(10**9).alias("turn_idx"),
                F.lit("user").alias("role"), F.lit("s").alias("text"),
                F.lit("").alias("tool"),
                F.lit(global_max + pd.Timedelta(days=10)).alias("ts"))
    )
    df.unionByName(sentinels).write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)
    q = (
        partial_states(src.withWatermark("ts", "2 hours"), "1m")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    streamed_1m = spark.read.parquet(out_dir).filter(F.col("window_start") < F.lit(cutoff))
    got = finalize_states(
        rollup_states(streamed_1m, "1h", fine_tier="1m"),
        ["conv_id", "window_start"],
    ).toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    want = finalize_states(
        partial_states(df, "1h"), ["conv_id", "window_start"]
    ).toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, rtol=1e-12, atol=1e-12)


def test_streaming_span_dedup_availablenow_restart(spark, tmp_path):
    """r4 VERDICT item 8: the span-level dedup head runs behind the
    streaming ingest — per micro-batch the span index and the per-doc
    duplication verdicts update, replays REPLACE a doc's old version,
    and threshold crossings in BOTH directions re-profile previously
    seen docs (whose raw text the stream no longer has). After an
    availableNow restart over a second batch, verdicts and index must
    equal a full batch recompute over the CURRENT corpus."""
    from cesium_spark.operators.dedup import (
        duplicate_token_spans, span_index_rows)
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.stream import span_dedup_batch_fn

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    SPAN = "alpha beta gamma delta epsilon zeta eta theta"
    batch1 = [
        (1, SPAN + " filler one two"),          # shares SPAN with doc 3
        (2, "unique words only here nothing shared at all"),
        (3, SPAN + " other tail words"),
        (4, "short text"),                      # < k tokens: 0 spans
        (7, "seven owns these nine tokens and shares none of them"),
    ]
    schema = "doc_id long, text string"
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    _drain_foreach_batch(spark, in_dir, schema, ckpt,
                         span_dedup_batch_fn(store, k=8, n_buckets=8))
    idx_ids = SnapshotTable(f"{store}/span_index").read(spark) \
        .select("id").distinct().toPandas()["id"]
    assert 7 in set(idx_ids)

    verd = SnapshotTable(f"{store}/span_verdicts")
    got1 = verd.read(spark).drop("vbucket").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    want1 = duplicate_token_spans(
        spark.createDataFrame(batch1, schema), k=8).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got1, want1, check_dtype=False)
    assert got1[got1.doc_id == 1].dup_frac.iloc[0] > 0  # SPAN is shared

    # batch 2: replay doc 1 WITHOUT the span (downward crossing for
    # doc 3), duplicate doc 2's text (upward crossing for doc 2), one
    # fresh unique doc, and replay doc 7 with fewer than k tokens (no
    # new span rows, yet its old index rows must go)
    batch2 = [
        (1, "replayed text now totally different from before honestly"),
        (5, "unique words only here nothing shared at all plus extra"),
        (6, "a genuinely fresh document with eight plus tokens inside"),
        (7, "now too short"),
    ]
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    _drain_foreach_batch(spark, in_dir, schema, ckpt,
                         span_dedup_batch_fn(store, k=8, n_buckets=8))

    current = {d: t for d, t in batch1}
    current.update({d: t for d, t in batch2})
    corpus = spark.createDataFrame(sorted(current.items()), schema)
    got2 = verd.read(spark).drop("vbucket").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    want2 = duplicate_token_spans(corpus, k=8).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, want2, check_dtype=False)
    # the crossings actually happened: doc 2 is now a dup, doc 3 no
    # longer is — both were re-profiled WITHOUT their text
    g2 = got2.set_index("doc_id")
    assert g2.loc[2].dup_frac > 0 and g2.loc[3].dup_frac == 0.0

    # index invariant: bucket-partitioned maintenance == full recompute
    idx = SnapshotTable(f"{store}/span_index").read(spark) \
        .select("id", "key", "n").toPandas() \
        .sort_values(["id", "key"]).reset_index(drop=True)
    want_idx = span_index_rows(corpus, k=8).toPandas() \
        .sort_values(["id", "key"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(idx, want_idx, check_dtype=False)
    assert 7 not in set(idx.id)


def test_streaming_minhash_dedup_availablenow_restart(spark, tmp_path):
    """The r5 streaming MinHash head: after every micro-batch (incl. an
    availableNow restart over a second batch with a replayed doc), the
    persisted pair table equals minhash_lsh_pairs over the CURRENT
    corpus and the band index equals the full band derivation — so
    cluster survivorship is available at any batch boundary without
    re-pairing the corpus."""
    from cesium_spark.operators.dedup import (
        minhash_band_rows, minhash_lsh_pairs)
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.stream import minhash_dedup_batch_fn

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    tpl = ("shared boilerplate body used across the duplicate class of "
           "this synthetic corpus with enough words to shingle")
    batch1 = [
        (1, tpl), (2, tpl),                       # near-dup pair
        (3, "a genuinely unique document with its own phrasing one"),
        (4, "another unique document with different phrasing two"),
    ]
    schema = "doc_id long, text string"
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    _drain_foreach_batch(spark, in_dir, schema, ckpt,
                         minhash_dedup_batch_fn(store, n_buckets=8))

    def current_tables():
        pairs = SnapshotTable(f"{store}/dup_pairs").read(spark) \
            .select("id_a", "id_b", "matching_bands").toPandas() \
            .sort_values(["id_a", "id_b"]).reset_index(drop=True)
        idx = SnapshotTable(f"{store}/band_index").read(spark) \
            .select("id", "band", "key").toPandas() \
            .sort_values(["id", "band", "key"]).reset_index(drop=True)
        return pairs, idx

    corpus1 = spark.createDataFrame(batch1, schema)
    want1 = minhash_lsh_pairs(corpus1).toPandas() \
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)
    got_pairs, got_idx = current_tables()
    pd.testing.assert_frame_equal(got_pairs, want1, check_dtype=False)
    assert {(1, 2)} <= set(zip(got_pairs.id_a, got_pairs.id_b))

    # batch 2: doc 2 REPLAYED with unique text (retires the (1,2) pair),
    # doc 5 duplicates the template (new pair with doc 1)
    batch2 = [
        (2, "replayed document two now completely unlike the template"),
        (5, tpl),
    ]
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    _drain_foreach_batch(spark, in_dir, schema, ckpt,
                         minhash_dedup_batch_fn(store, n_buckets=8))

    current = {d: t for d, t in batch1}
    current.update({d: t for d, t in batch2})
    corpus2 = spark.createDataFrame(sorted(current.items()), schema)
    want2 = minhash_lsh_pairs(corpus2).toPandas() \
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)
    got_pairs2, got_idx2 = current_tables()
    pd.testing.assert_frame_equal(got_pairs2, want2, check_dtype=False)
    keys2 = set(zip(got_pairs2.id_a, got_pairs2.id_b))
    assert (1, 5) in keys2 and (1, 2) not in keys2  # retired + added

    want_idx2 = minhash_band_rows(corpus2).toPandas() \
        .sort_values(["id", "band", "key"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_idx2, want_idx2, check_dtype=False)


def test_streaming_ivf_index_availablenow_restart(spark, tmp_path):
    """The streaming IVF-index head: centroids train once on the first
    batch and are committed before any index write; after every
    micro-batch (incl. an availableNow restart whose second batch
    REPLAYS a vector with changed values, moving it across lists) the
    persisted index equals extend_ivf_index over the latest version of
    every ingested vector — stale rows in the moved-from list are
    rewritten out."""
    import numpy as np

    from cesium_spark.operators.similarity import extend_ivf_index
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.stream import start_ivf_index_stream

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    rng = np.random.RandomState(3)
    schema = "vec_id long, embedding array<double>"
    batch1 = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    q = start_ivf_index_stream(spark, in_dir, store, ckpt, schema,
                               n_lists=4, train_sample=40)
    q.awaitTermination(120)
    cents = np.load(f"{store}/centroids.npy")
    assert cents.shape == (4, 8)

    def current_index():
        return SnapshotTable(f"{store}/ivf_index").read(spark) \
            .select("neighbor_id", "list_id").toPandas() \
            .sort_values("neighbor_id").reset_index(drop=True)

    corpus1 = spark.createDataFrame(batch1, schema)
    want1 = extend_ivf_index(corpus1, cents).select("neighbor_id", "list_id") \
        .toPandas().sort_values("neighbor_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(current_index(), want1, check_dtype=False)

    # batch 2: vec 7 replayed pointing at a DIFFERENT centroid (moves
    # lists), vecs 40-44 new
    old7 = dict(batch1)[7]
    target = int(want1.set_index("neighbor_id").loc[7, "list_id"])
    other = (target + 1) % 4
    batch2 = [(7, [float(x) for x in cents[other] * 10.0])] + \
        [(40 + j, [float(x) for x in rng.normal(size=8)]) for j in range(5)]
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    q2 = start_ivf_index_stream(spark, in_dir, store, ckpt, schema,
                                n_lists=4, train_sample=40)
    q2.awaitTermination(120)

    assert np.allclose(np.load(f"{store}/centroids.npy"), cents)  # stable
    current = {i: v for i, v in batch1}
    current.update({i: v for i, v in batch2})
    corpus2 = spark.createDataFrame(sorted(current.items()), schema)
    want2 = extend_ivf_index(corpus2, cents).select("neighbor_id", "list_id") \
        .toPandas().sort_values("neighbor_id").reset_index(drop=True)
    got2 = current_index()
    pd.testing.assert_frame_equal(got2, want2, check_dtype=False)
    moved = int(got2.set_index("neighbor_id").loc[7, "list_id"])
    assert moved == other and moved != target  # really exercised the move
    assert len(got2) == 45  # no duplicate rows for the replayed id


def test_streaming_ivf_index_intra_batch_duplicate_id(spark, tmp_path):
    """Review finding: two staged files carrying the SAME vec_id drain
    into one availableNow micro-batch (no maxFilesPerTrigger) — the
    head must collapse them to one deterministic row, not persist both
    versions."""
    import numpy as np

    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.stream import start_ivf_index_stream

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    rng = np.random.RandomState(9)
    schema = "vec_id long, embedding array<double>"
    base = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    spark.createDataFrame(base, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    # second file REPEATS id 3 with a different vector, same batch
    spark.createDataFrame(
        [(3, [float(x) for x in rng.normal(size=8)])], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    q = start_ivf_index_stream(spark, in_dir, store, ckpt, schema,
                               n_lists=4, train_sample=20)
    q.awaitTermination(120)
    got = SnapshotTable(f"{store}/ivf_index").read(spark) \
        .select("neighbor_id").toPandas()
    assert len(got) == 20  # one row per id
    assert got.neighbor_id.is_unique


def test_streaming_run_stats_matches_batch_across_restart(spark, tmp_path):
    """Live loop detection: a run spanning the batch boundary counts as
    ONE run (state carries last type + trailing length), and after an
    availableNow restart over a second file the latest emitted row per
    key equals operators/runs.event_run_stats over everything ingested.
    NULL event types follow IS DISTINCT FROM semantics."""
    import pandas as pd

    from cesium_spark.operators.runs import event_run_stats
    from cesium_spark.streaming.stream import streaming_run_stats

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-01-01")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def rows(specs, base_eid):
        out = []
        for i, (u, ty) in enumerate(specs):
            out.append((base_eid + i,
                        (t0 + pd.Timedelta(seconds=base_eid + i)).to_pydatetime(),
                        u, ty))
        return out

    # batch 1 ends user 7 on two 'x'; batch 2 starts it on 'x' -> the
    # cross-boundary run is x,x,x (len 3). user 8 mixes NULLs.
    b1 = rows([(7, "a"), (7, "x"), (7, "x"), (8, None), (8, None), (8, "b")], 0)
    b2 = rows([(7, "x"), (7, "y"), (8, None), (9, "z")], 100)
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_run_stats(src).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    emitted = spark.read.parquet(out_dir).toPandas()
    # latest row per key = the one with the highest cumulative n_events
    latest = emitted.sort_values("n_events").groupby("user_id").last()

    full = spark.createDataFrame(b1 + b2, schema)
    want = event_run_stats(full).toPandas().set_index("user_id")
    for u in want.index:
        for c in ("n_events", "n_runs", "max_run", "repeat_frac", "looping"):
            assert latest.loc[u, c] == want.loc[u, c], (u, c)
    # the cross-boundary x-run really merged: 3, not 2 separate runs
    assert latest.loc[7, "max_run"] == 3
    # NULL,NULL was one run within batch 1 AND continued nowhere: user 8
    # runs = [None x2, b, None] -> 3 runs
    assert want.loc[8, "n_runs"] == 3 and latest.loc[8, "n_runs"] == 3


def test_streaming_run_stats_string_keys_and_types(spark, tmp_path):
    """Review finding: the output/state schemas must follow the input
    types — string actor ids and string tiebreaks work, not just the
    bigint defaults."""
    import pandas as pd

    from cesium_spark.streaming.stream import streaming_run_stats

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-01-01")
    schema = "turn_id string, ts timestamp, agent string, tool string"
    rows = [(f"t{i}", (t0 + pd.Timedelta(seconds=i)).to_pydatetime(),
             "agent-x", ty)
            for i, ty in enumerate(["search", "search", "search", "reply"])]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    src = spark.readStream.schema(schema).parquet(in_dir)
    q = (streaming_run_stats(src, key_col="agent", type_col="tool",
                             tiebreak_col="turn_id", loop_threshold=3)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir).toPandas()
    assert list(out.agent) == ["agent-x"]
    assert (out.n_events[0], out.n_runs[0], out.max_run[0],
            out.looping[0]) == (4, 2, 3, 1)


def test_streaming_psi_matches_batch_across_restart(spark, tmp_path):
    """Live drift monitoring: cumulative per-group bin counts carry
    across micro-batches AND an availableNow restart, so the latest
    emitted row per group equals batch psi_by_group(ref, everything
    ingested). Groups absent from the reference never emit."""
    import numpy as np

    from cesium_spark.operators.drift import psi_by_group
    from cesium_spark.streaming.stream import streaming_psi

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    schema = "event_id long, event_type string, value double"
    rng = np.random.RandomState(3)

    def rows(base, groups, shift):
        return [(base + i, groups[i % len(groups)],
                 float(rng.normal(loc=shift)))
                for i in range(120)]

    ref_rows = rows(0, ["x", "y"], 0.0)
    b1 = rows(1000, ["x", "y"], 0.7)
    b2 = rows(2000, ["x", "y", "ghost"], 0.7)  # 'ghost' has no reference
    ref = spark.createDataFrame(ref_rows, schema)

    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_psi(src, ref).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    emitted = spark.read.parquet(out_dir).toPandas()
    assert "ghost" not in set(emitted["event_type"])
    latest = emitted.sort_values("n_cur").groupby("event_type").last()

    cur = spark.createDataFrame(b1 + b2, schema)
    want = psi_by_group(ref, cur).toPandas().set_index("event_type")
    assert set(latest.index) == set(want.index)
    for g in want.index:
        for c in ("n_ref", "n_cur", "psi"):
            assert latest.loc[g, c] == want.loc[g, c], (g, c)
    # the shifted current slice must actually register as drift
    assert (want["psi"] > 0.1).all()


def test_streaming_contamination_matches_batch(spark, tmp_path):
    """The contamination head's accumulated verdicts table == batch
    ngram_contamination over the latest version of every ingested doc,
    including after a replay that rewrites one doc's text."""
    from cesium_spark.operators.dedup import ngram_contamination
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.stream import contamination_batch_fn

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    bench = "a b c d e f g h i j k l m n"
    test = spark.createDataFrame([(100, bench)], schema)

    b1 = [(1, bench + " tail tokens"), (2, "clean words only here " * 5)]
    b2 = [(3, "x " * 20 + bench),
          (1, "rewritten clean body with many fresh words " * 3)]  # replay
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (src.writeStream
             .foreachBatch(contamination_batch_fn(store, test, n=13))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got1 = SnapshotTable(f"{store}/verdicts").read(spark).toPandas()
    assert set(got1.doc_id) == {1, 2}
    assert got1.set_index("doc_id").loc[1, "contaminated"]

    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    got = (SnapshotTable(f"{store}/verdicts").read(spark)
           .select("doc_id", "n_tokens", "n_spans", "contaminated_spans",
                   "contaminated")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    latest = spark.createDataFrame(
        [b2[1], b1[1], b2[0]], schema
    )
    want = (ngram_contamination(latest, test, n=13)
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert got.equals(want)
    # the replay flipped doc 1 to clean
    assert not got.set_index("doc_id").loc[1, "contaminated"]


def test_streaming_anomaly_zscore_matches_batch_across_restart(spark, tmp_path):
    """Live causal anomaly monitoring: flags emitted across two
    availableNow drains (a restart between them) equal the BATCH
    rolling_zscore_anomalies relation over everything ingested — the
    trailing-20 state carries the window across the batch boundary, so
    a spike early in batch 2 is scored against batch-1 history."""
    import numpy as np
    import pandas as pd

    from cesium_spark.operators.tsstats import rolling_zscore_anomalies
    from cesium_spark.streaming.stream import streaming_anomaly_zscore

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    rng = np.random.RandomState(17)
    x = rng.normal(5, 1.0, 40)
    x[25] = 20.0  # batch-2 spike whose window spans the boundary
    x[10] = -9.0  # batch-1 spike
    schema = "user_id long, event_id long, value double"
    rows = [(1, i, float(v)) for i, v in enumerate(x)]

    spark.createDataFrame(rows[:22], schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_anomaly_zscore(src, window=20, min_points=5,
                                      threshold=2.5)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows[22:], schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("event_id").reset_index(drop=True))
    batch_in = spark.createDataFrame(
        [(u, float(i), i, v) for (u, i, v) in rows],
        "user_id long, ts double, event_id long, value double")
    want = (rolling_zscore_anomalies(batch_in, window=20, min_points=5,
                                     threshold=2.5)
            .select("user_id", "event_id", "value", "n_base", "z")
            .toPandas().sort_values("event_id").reset_index(drop=True))
    assert {10, 25} <= set(want.event_id)
    pd.testing.assert_frame_equal(
        got[["user_id", "event_id", "value", "n_base", "z"]], want,
        check_dtype=False,
    )
    # the boundary-spanning window really used batch-1 history
    assert int(want.set_index("event_id").loc[25, "n_base"]) == 20


def test_streaming_anomaly_zscore_null_values_match_batch(spark, tmp_path):
    """Review finding: a NULL value must occupy a frame slot (n_base
    counts rows) without poisoning the moments or being flagged —
    exactly the batch operator's count(*)/avg/stddev_samp semantics."""
    import numpy as np
    import pandas as pd

    from cesium_spark.operators.tsstats import rolling_zscore_anomalies
    from cesium_spark.streaming.stream import streaming_anomaly_zscore

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    rng = np.random.RandomState(5)
    vals = [float(v) for v in rng.normal(5, 1.0, 30)]
    vals[8] = None   # null inside the early window
    vals[15] = 19.0  # spike scored over a window containing the null
    vals[20] = None  # second null
    schema = "user_id long, event_id long, value double"
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    q = (streaming_anomaly_zscore(
            spark.readStream.schema(schema).parquet(in_dir),
            window=10, min_points=5, threshold=2.5)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("event_id").reset_index(drop=True))
    batch_in = spark.createDataFrame(
        [(u, float(i), i, v) for (u, i, v) in rows],
        "user_id long, ts double, event_id long, value double")
    want = (rolling_zscore_anomalies(batch_in, window=10, min_points=5,
                                     threshold=2.5)
            .select("user_id", "event_id", "value", "n_base", "z")
            .toPandas().sort_values("event_id").reset_index(drop=True))
    assert 15 in set(want.event_id)  # the spike IS flagged despite the null
    pd.testing.assert_frame_equal(
        got[["user_id", "event_id", "value", "n_base", "z"]], want,
        check_dtype=False,
    )


def test_streaming_session_window_merges_across_restart(spark, tmp_path):
    """Native session_window head: a session whose events straddle an
    availableNow RESTART merges into one row (JVM state store carries
    the open session across runs), emission is exactly-once, and the
    trailing open session per key is withheld until data closes it."""
    import datetime as dt

    from cesium_spark.streaming.stream import streaming_session_window

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, user_id long, ts timestamp"

    # run 1: user 1 opens a session (2 events, 10 min apart); user 2 one
    # event at 00:05 — run 1's max ts is 00:10, so the watermark stays
    # BELOW both open windows' ends and neither session evicts early
    # (an event below the watermark would be late data and start fresh
    # rather than merge — the eviction contract, not a state bug)
    b1 = [(0, 1, t0), (1, 1, t0 + dt.timedelta(minutes=10)),
          (2, 2, t0 + dt.timedelta(minutes=5))]
    # run 2: user 1's session CONTINUES 20 min after its last event, then
    # a far-future event closes everything except its own session
    b2 = [(3, 1, t0 + dt.timedelta(minutes=30)),
          (4, 2, t0 + dt.timedelta(days=2))]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_session_window(src, gap="30 minutes")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    out = spark.read.parquet(out_dir).toPandas() \
        .sort_values(["user_id", "session_start"]).reset_index(drop=True)
    # user 1: ONE merged session 00:00 -> 00:30 with 3 events (the
    # run-2 event arrived within gap of the carried state)
    u1 = out[out.user_id == 1]
    assert len(u1) == 1
    assert u1.iloc[0].n_events == 3
    assert u1.iloc[0].session_start == t0
    assert u1.iloc[0].session_end == t0 + dt.timedelta(minutes=30)
    # user 2: the 00:05 session closed in run 2; the day-2 trailing
    # session is withheld (its window end is above the final watermark)
    u2 = out[out.user_id == 2]
    assert len(u2) == 1 and u2.iloc[0].n_events == 1
    assert u2.iloc[0].session_start == t0 + dt.timedelta(minutes=5)


def test_streaming_hll_state_equals_batch_and_replay_idempotent(spark, tmp_path):
    """The streamed bucket state after two availableNow runs equals the
    batch sketch over everything ingested, and re-delivering a batch
    (at-least-once) leaves the state bit-identical (max-merge
    idempotence)."""
    from cesium_spark.operators.sketch import hll_distinct
    from cesium_spark.streaming.stream import hll_batch_fn, hll_state_estimate

    in_dir, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    b1 = [(f"tok-{i}",) for i in range(0, 800)]
    b2 = [(f"tok-{i}",) for i in range(600, 1400)]  # overlaps b1
    spark.createDataFrame(b1, "tok string").coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema("tok string").parquet(in_dir)
        q = (src.writeStream.foreachBatch(hll_batch_fn(store))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, "tok string").coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    streamed = hll_state_estimate(spark, store).toPandas().iloc[0]
    batch = hll_distinct(
        spark.createDataFrame(b1 + b2, "tok string"), "tok"
    ).toPandas().iloc[0]
    assert streamed.hll_estimate == batch.hll_estimate
    assert streamed.n_buckets_observed == batch.n_buckets_observed

    # replay idempotence: manually re-deliver batch 2's rows; the state
    # lives in a SnapshotTable (manifest-first durability), so read
    # through the table layer
    from cesium_spark.sources.table import SnapshotTable

    table = SnapshotTable(f"{store}/hll_state")
    fn = hll_batch_fn(store)
    before = table.read(spark).toPandas() \
        .sort_values("_b").reset_index(drop=True)
    fn(spark.createDataFrame(b2, "tok string"), 999)
    after = table.read(spark).toPandas() \
        .sort_values("_b").reset_index(drop=True)
    import pandas.testing as pt
    pt.assert_frame_equal(before, after)


def test_cms_streamed_replay_idempotent_and_equals_batch(spark, tmp_path):
    """CMS sum-merge is not idempotent, so the head's exactly-once
    discipline is per-batch-id partial directories: (1) re-delivering
    the same batch_id leaves the merged state bit-identical, (2) the
    merged streamed state equals the one-shot batch sketch."""
    import pandas.testing as pt

    from cesium_spark.operators.sketch import cms_counter_rows
    from cesium_spark.streaming.stream import cms_batch_fn, cms_state_counters

    store = str(tmp_path / "cms_store")
    b1 = [("alpha",), ("beta",), ("alpha",)]
    b2 = [("beta",), ("gamma",)]
    fn = cms_batch_fn(store, d=2, w=8)
    fn(spark.createDataFrame(b1, "tok string"), 0)
    fn(spark.createDataFrame(b2, "tok string"), 1)
    merged = cms_state_counters(spark, store).toPandas() \
        .sort_values(["_row", "_b"]).reset_index(drop=True)

    # (1) replay batch 1 (same id): state unchanged
    fn(spark.createDataFrame(b2, "tok string"), 1)
    replayed = cms_state_counters(spark, store).toPandas() \
        .sort_values(["_row", "_b"]).reset_index(drop=True)
    pt.assert_frame_equal(merged, replayed)

    # (2) streamed state == batch sketch over the full input
    full = spark.createDataFrame(b1 + b2, "tok string")
    batch = cms_counter_rows(full, "tok", d=2, w=8).toPandas() \
        .sort_values(["_row", "_b"]).reset_index(drop=True)
    pt.assert_frame_equal(merged, batch)

    # (3) empty store: defined empty sketch, not an error
    empty = cms_state_counters(spark, str(tmp_path / "nowhere"))
    assert empty.count() == 0


# ------------------------------------- sum-merged heads' per-batch store


def _head_events(spark, n=60, offset=0):
    rows = [(i % 3, offset + i, "A" if i % 4 else "B",
             float(offset + 900 * i), float(i % 7) + 0.5) for i in range(n)]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
              "sec double, value double",
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"), "value")


def _heads(store):
    """name -> (batch fn, merged-state reader) of the four sum-merged
    heads, each with its own store under ``store``."""
    from cesium_spark.streaming import stream as st

    return {
        "cms": (st.cms_batch_fn(f"{store}/cms", col="event_type", d=2, w=8),
                lambda sp: st.cms_state_counters(sp, f"{store}/cms")),
        "ddsketch": (st.ddsketch_batch_fn(f"{store}/ddsketch"),
                     lambda sp: st.ddsketch_state_buckets(sp, f"{store}/ddsketch")),
        "m4": (st.m4_batch_fn(f"{store}/m4", bucket_sec=3600),
               lambda sp: st.m4_state(sp, f"{store}/m4", bucket_sec=3600)),
        "grid": (st.grid_batch_fn(f"{store}/grid"),
                 lambda sp: st.grid_state(sp, f"{store}/grid")),
    }


def _rows(df):
    """``df`` as a pandas frame in a canonical row order."""
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _spark_jobs(spark, fn):
    """Number of Spark jobs ``fn()`` starts."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("head", ["cms", "ddsketch", "m4", "grid"])
def test_head_commit_and_state_read_job_counts(spark, tmp_path, head):
    """A head commit is one collect of the partial (at most the AQE map
    stage plus the collect; no isEmpty probe, no Spark writer job), and
    building the merged-state relation runs no schema-inference job."""
    fn, read = _heads(str(tmp_path))[head]
    ev = _head_events(spark)
    jobs = _spark_jobs(spark, lambda: fn(ev, 0))
    assert 1 <= jobs <= 2
    assert _spark_jobs(spark, lambda: read(spark)) == 0


@pytest.mark.parametrize("head", ["cms", "ddsketch", "m4", "grid"])
def test_head_replay_rewrites_one_identical_file(spark, tmp_path, head):
    import hashlib
    import os

    fn, read = _heads(str(tmp_path))[head]
    ev = _head_events(spark)
    fn(ev, 3)
    bdir = tmp_path / head / "batch=3"
    assert os.listdir(bdir) == ["part-0.parquet"]
    digest = hashlib.sha256((bdir / "part-0.parquet").read_bytes()).digest()
    before = _rows(read(spark))
    fn(ev, 3)
    assert os.listdir(bdir) == ["part-0.parquet"]
    assert hashlib.sha256((bdir / "part-0.parquet").read_bytes()).digest() == digest
    assert sorted(os.listdir(tmp_path / head)) == ["batch=3"]
    assert _rows(read(spark)).equals(before)


@pytest.mark.parametrize("head", ["cms", "ddsketch", "m4", "grid"])
def test_head_empty_batch_commits_nothing(spark, tmp_path, head):
    import os

    fn, read = _heads(str(tmp_path))[head]
    ev = _head_events(spark)
    fn(ev.limit(0), 0)
    assert not os.path.exists(tmp_path / head)
    empty = read(spark)
    assert empty.count() == 0
    fn(ev, 1)
    fn(ev.limit(0), 2)
    assert sorted(os.listdir(tmp_path / head)) == ["batch=1"]
    assert read(spark).columns == empty.columns


@pytest.mark.parametrize("head", ["cms", "ddsketch", "m4", "grid"])
def test_head_ignores_and_replaces_crashed_commit(spark, tmp_path, head):
    """A ``_tmp-batch=<id>`` left by a crash mid-commit is never read,
    and the redelivery of that id replaces it."""
    import os
    import shutil

    fn, read = _heads(str(tmp_path))[head]
    b0, b1 = _head_events(spark), _head_events(spark, n=40, offset=1800)
    fn(b0, 0)
    only_first = _rows(read(spark))
    fn(b1, 1)
    want = _rows(read(spark))
    assert not want.equals(only_first)
    # the crash: batch 1's files were written but never swapped in
    store = tmp_path / head
    os.rename(store / "batch=1", store / "_tmp-batch=1")
    shutil.copy(store / "_tmp-batch=1" / "part-0.parquet",
                store / "_tmp-batch=1" / "part-1.parquet")
    assert _rows(read(spark)).equals(only_first)
    fn(b1, 1)  # the restart redelivers batch 1
    assert sorted(os.listdir(store)) == ["batch=0", "batch=1"]
    assert os.listdir(store / "batch=1") == ["part-0.parquet"]
    assert _rows(read(spark)).equals(want)


def test_streaming_holt_matches_batch_across_restart(spark, tmp_path):
    """Live Holt forecaster: an hour split across the batch boundary
    folds ONCE with its full count, gap hours fold as zeros, and after
    an availableNow restart the latest emitted row per key equals the
    batch holt_linear over everything ingested."""
    import pandas as pd

    from cesium_spark.operators.tsstats import holt_linear
    from cesium_spark.streaming.stream import streaming_holt

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-03-01")
    schema = "event_id long, ts timestamp, event_type string"

    def rows(specs, base_eid):
        # specs: (key, hour, within_hour_minute)
        out = []
        for i, (k, h, mi) in enumerate(specs):
            out.append((base_eid + i,
                        (t0 + pd.Timedelta(hours=h, minutes=mi)).to_pydatetime(),
                        k))
        return out

    # hour 2 of key "s" is split across the boundary (2 events in b1,
    # 1 in b2); hours 3-4 are silent (zero-filled by the gap logic)
    b1 = rows([("s", 0, 1), ("s", 0, 2), ("s", 1, 0), ("s", 2, 10),
               ("s", 2, 20)], 0)
    b2 = rows([("s", 2, 40), ("s", 5, 0), ("s", 6, 0), ("s", 6, 30)], 100)
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_holt(src).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    emitted = spark.read.parquet(out_dir).toPandas()
    latest = emitted.sort_values("n_events").groupby("event_type").last()

    full = spark.createDataFrame(b1 + b2, schema)
    want = holt_linear(full).toPandas().set_index("event_type")
    assert latest.loc["s", "n_hours"] == 7  # hours 0..6 incl. zeros
    for c in ("n_hours", "level", "trend", "forecast_h", "rmse_1step"):
        assert latest.loc["s", c] == want.loc["s", c], c
    # the intermediate emission (after batch 1) covered hours 0..2 only
    first = emitted.sort_values("n_events").groupby("event_type").first()
    assert first.loc["s", "n_hours"] == 3


def test_streaming_markov_nll_matches_batch_across_restart(spark, tmp_path):
    """Live sequence surprisal vs a frozen matrix: a transition spanning
    the batch boundary scores exactly once (state carries last_type),
    pairs absent from the matrix land in n_unseen not the score, and
    after an availableNow restart the latest row per key equals the
    batch markov_nll over everything ingested."""
    import pandas as pd

    from cesium_spark.operators.markov import markov_nll
    from cesium_spark.operators.tsstats import event_transitions
    from cesium_spark.streaming.stream import streaming_markov_nll

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-01-01")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def rows(specs, base_eid):
        out = []
        for i, (u, ty) in enumerate(specs):
            out.append((base_eid + i,
                        (t0 + pd.Timedelta(seconds=base_eid + i)).to_pydatetime(),
                        u, ty))
        return out

    # boundary transition: user 7 ends batch 1 on "a", opens batch 2 on
    # "b" -> the a->b transition must score once. user 9 appears only in
    # batch 2.
    b1 = rows([(7, "a"), (7, "b"), (7, "a"), (8, "a"), (8, "a")], 0)
    b2 = rows([(7, "b"), (7, "a"), (8, "b"), (9, "a"), (9, "a")], 100)
    full = spark.createDataFrame(b1 + b2, schema)
    matrix = {
        (r["from_type"], r["to_type"]): r["prob"]
        for r in event_transitions(full).collect()
    }

    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_markov_nll(src, matrix).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    emitted = spark.read.parquet(out_dir).toPandas()
    latest = emitted.sort_values("n_transitions").groupby("user_id").last()
    want = markov_nll(full).toPandas().set_index("user_id")
    for u in want.index:
        for c in ("n_transitions", "nll_bits", "max_surprise_bits",
                  "surprise_from", "surprise_to"):
            assert latest.loc[u, c] == want.loc[u, c], (u, c)
    assert (latest["n_unseen"] == 0).all()  # matrix trained on the data

    # unseen pairs: score against a matrix missing a->b entirely
    m2 = {k: v for k, v in matrix.items() if k != ("a", "b")}
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    src = spark.readStream.schema(schema).parquet(in_dir)
    q = (streaming_markov_nll(src, m2).writeStream
         .format("parquet").option("path", out2)
         .option("checkpointLocation", ck2)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    e2 = spark.read.parquet(out2).toPandas()
    l2 = e2.sort_values("n_transitions").groupby("user_id").last()
    # user 7 took a->b twice (once across the boundary): both excluded
    assert l2.loc[7, "n_unseen"] == 2
    assert l2.loc[7, "n_transitions"] == want.loc[7, "n_transitions"] - 2


def test_streaming_gap_deltas_sum_to_batch_across_restart(spark, tmp_path):
    """Live burstiness: delta sufficient statistics summed over every
    emitted row equal the batch gap_burstiness exactly, including the
    gap and the lag-1 pair that SPAN the micro-batch boundary (state
    carries last event + last completed gap)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cesium_spark.operators.survival import (
        burstiness_finalize, gap_burstiness,
    )
    from cesium_spark.streaming.stream import streaming_gap_deltas

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-01-01")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def rows(specs, base_eid):
        out = []
        for i, (u, ty, sec) in enumerate(specs):
            out.append((base_eid + i,
                        (t0 + pd.Timedelta(seconds=sec)).to_pydatetime(),
                        u, ty))
        return out

    # user 7: gaps 10/20 in batch 1, then a 30 s gap ACROSS the boundary
    # and 40 after; the boundary pair (20, 30) and gap 30 must count once
    b1 = rows([(7, "a", 0), (7, "b", 10), (7, "a", 30)], 0)
    b2 = rows([(7, "b", 60), (7, "a", 100), (8, "c", 0), (8, "c", 5)], 100)
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_gap_deltas(src).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    deltas = spark.read.parquet(out_dir)
    sums = deltas.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s1").alias("s1"), F.sum("s2").alias("s2"),
        F.sum("np").cast("long").alias("np"),
        F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"), F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    )
    got = burstiness_finalize(sums).toPandas() \
        .set_index("event_type").sort_index()
    want = gap_burstiness(spark.createDataFrame(b1 + b2, schema)) \
        .toPandas().set_index("event_type").sort_index()
    pd.testing.assert_frame_equal(got, want, check_like=True)
    # the boundary gap really counted once: type "a" opened gaps 10
    # (0->10), 30 (30->60... no, 30 s event opens 60-30) and 40
    assert want.loc["a", "n_gaps"] == got.loc["a", "n_gaps"]


def test_streaming_funnel_matches_batch_across_restart(spark, tmp_path):
    """Live funnel: steps landing in different micro-batches still
    match in order, the strictly-after bound holds across the batch
    boundary (a replay of the already-matched step-2 event in batch 2
    must not fake progress), and after an availableNow restart the
    latest emitted row per key equals the batch funnel_conversion over
    everything ingested."""
    import pandas as pd

    from cesium_spark.operators.funnel import funnel_conversion
    from cesium_spark.streaming.stream import streaming_funnel

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    t0 = pd.Timestamp("2025-01-01")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    steps = ["view", "click", "purchase"]

    def rows(specs, base_eid):
        return [
            (base_eid + i,
             (t0 + pd.Timedelta(seconds=sec)).to_pydatetime(), u, ty)
            for i, (u, sec, ty) in enumerate(specs)
        ]

    # u1 converts across the boundary: view+click in b1, purchase in b2.
    # u2 sees click BEFORE its first view (must not count), then view in
    # b1 and a click in b2 -> reached 2.
    # u3 only ever views. u4 appears only in b2.
    b1 = rows([(1, 10, "view"), (1, 20, "click"),
               (2, 5, "click"), (2, 30, "view"),
               (3, 40, "view")], 0)
    b2 = rows([(1, 50, "purchase"), (1, 20, "click"),  # replay <= bound
               (2, 60, "click"), (4, 70, "view")], 100)
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (streaming_funnel(src, steps).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    drain()

    emitted = spark.read.parquet(out_dir).toPandas()
    latest = emitted.sort_values("n_seen").groupby("user_id").last()

    full = spark.createDataFrame(b1 + b2, schema)
    want = funnel_conversion(full, steps).toPandas().set_index("user_id")
    for u in want.index:
        for c in ("steps_reached", "t_first", "t_deepest",
                  "seconds_to_convert", "converted"):
            got, exp = latest.loc[u, c], want.loc[u, c]
            assert got == exp or (pd.isna(got) and pd.isna(exp)), (u, c, got, exp)
    # the conversion really spanned the boundary
    assert bool(latest.loc[1, "converted"]) is True
    assert latest.loc[1, "seconds_to_convert"] == 40.0
    # pre-view click never counted; batch-2 click advanced u2 to 2
    assert latest.loc[2, "steps_reached"] == 2
    assert latest.loc[3, "steps_reached"] == 1
    assert latest.loc[4, "steps_reached"] == 1
