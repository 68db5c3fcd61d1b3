"""Structured Streaming heads: the engine's relations as continuous
queries, for deployments that want push-based ingestion. The
batch-incremental path (operators/incremental.py + lineage checkpoints)
stays the primary ingestion mode; most heads here are the live twin of
a batch operator and are tested against it. Three families:

  - Windowed aggregates (`streaming_partial_states`,
    `streaming_session_window`): their state is Spark's own streaming
    state, evicted by the watermark. Only mergeable aggregates run here;
    non-mergeable features come from the batch kernel over closed
    windows downstream (the `complete/dirty` flag pattern from SURVEY.md
    §7 risk 4).
  - Keyed-state heads: one carried state tuple per key, folded over each
    micro-batch by `applyInPandasWithState`. All eleven go through the
    one frame `_keyed_state_head` and supply only a narrow projection,
    their state and output fields, and a pure fold step.
  - foreachBatch store heads (`*_batch_fn`): each micro-batch is merged
    into a store on disk, a SnapshotTable for the index, verdict and HLL
    heads and one partial per batch directory for the sum-merged
    sketches. The caller owns the `readStream`/`foreachBatch` query;
    `start_ivf_index_stream` is the one packaged file-source starter.
"""
from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from ..kernel import SECONDS_PER_DAY, ts_micros

__all__ = [
    "streaming_partial_states", "span_dedup_batch_fn",
    "minhash_dedup_batch_fn", "ivf_index_batch_fn",
    "start_ivf_index_stream", "streaming_run_stats", "streaming_psi",
    "contamination_batch_fn",
    "streaming_anomaly_zscore", "streaming_session_window",
    "hll_batch_fn", "hll_state_estimate",
    "cms_batch_fn", "cms_state_counters", "streaming_holt",
    "streaming_markov_nll", "streaming_gap_deltas", "streaming_funnel",
    "streaming_pattern_counts", "streaming_page_hinkley",
    "streaming_holt_winters", "streaming_lateness",
    "ddsketch_batch_fn", "ddsketch_state_buckets",
    "m4_batch_fn", "m4_state",
    "grid_batch_fn", "grid_state",
]


def streaming_partial_states(
    stream_df: DataFrame,
    tier: str = "1m",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m=None,
    e=None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming MERGEABLE STATE rows (operators/aggstate.STATE_COLS
    schema) per (series, tier window) — the streaming head of the
    continuous-aggregate cascade: the finest tier materializes from the
    stream, and the coarser tiers roll up from these states batch-side
    (rollup_states) without ever touching raw rows again. Every
    aggregate here is algebraic (sums / extrema / max_by), so Spark's
    streaming state store IS the partial-state algebra."""
    from ..kernel import DEFAULT_ERROR_VALUE
    from ..operators.aggstate import STATE_COLS
    from ..operators.rollup import TIERS

    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    e_col = F.col(e) if isinstance(e, str) else e
    if e_col is None:
        e_col = F.lit(DEFAULT_ERROR_VALUE).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)
    window = TIERS.get(tier, tier)
    # normalize to the TIERS key so the metadata stamp (and with it
    # rollup_states' non-coarser-tier guard) applies whether the caller
    # passed the key ("1m") or the window string ("1 minute")
    tier_key = (
        tier
        if tier in TIERS
        else next((k for k, v in TIERS.items() if v == tier), None)
    )

    w = 1.0 / (e_col * e_col)
    rank = F.struct(
        ts_micros(F.col(ts_col)).alias("us"),
        F.col(tiebreak_col).cast("long").alias("idx"),
    )
    mv = m_col
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(mv).alias("s1"),
            F.sum(F.pow(mv, 2)).alias("s2"),
            F.sum(F.pow(mv, 3)).alias("s3"),
            F.sum(F.pow(mv, 4)).alias("s4"),
            F.min(mv).alias("vmin"),
            F.max(mv).alias("vmax"),
            F.sum(w).alias("w_sum"),
            F.sum(w * mv).alias("wx_sum"),
            F.sum(w * mv * mv).alias("wx2_sum"),
            F.min(t_days).alias("t_min"),
            F.max(t_days).alias("t_max"),
            F.sum(t_days).alias("t_sum"),
            F.max(ts_micros(F.col(ts_col))).alias("last_rank_us"),
            F.max_by(F.col(tiebreak_col).cast("long"), rank).alias("last_rank_idx"),
            F.max_by(mv, rank).alias("last_value"),
        )
        .select(
            F.col(key_col),
            # tier metadata rides along exactly like batch partial_states
            # stamps it, so rollup_states' coarser-tier validation guards
            # the streaming cascade too (when tier is a known key)
            F.col("w.start").alias(
                "window_start",
                metadata={"tier": tier_key} if tier_key is not None else {},
            ),
            *[F.col(c) for c in STATE_COLS],
        )
    )


def _bucket(col, n_buckets: int):
    """Hash bucket of `col` in [0, n_buckets): the partition column of
    the index heads' SnapshotTables."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def span_dedup_batch_fn(
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_fn: str = "md5",
    min_count: int = 2,
    n_buckets: int = 64,
    round_digits: int = 6,
):
    """foreachBatch function maintaining a persisted span index + a
    per-document span-duplication VERDICT table under `store_root`
    (SnapshotTables "span_index" and "span_verdicts") — the streaming
    head of the span-level dedup pipeline (r4 VERDICT item 8;
    incremental_duplicate_spans was batch-only).

    Per micro-batch:
      1. probe the index with the batch (incremental_duplicate_spans:
         replay-safe — re-ingested ids REPLACE their stale rows);
      2. re-profile `affected_old_ids` PURELY from the post-batch index
         (span_profiles_from_index — old docs' raw text may be past its
         retention horizon; the index suffices);
      3. upsert verdicts, then commit the index.

    Both tables are hash-bucketed on their key (`_bucket`) and upserted
    with `SnapshotTable.merge_rows`, which rewrites only the buckets a
    batch touches — O(batch + touched buckets), never O(corpus). A
    replayed id retires all its old index rows, even when its new text
    yields no span.

    Crash/replay discipline (foreachBatch may redeliver a batch): all
    reads in a delivery see ONE index snapshot; verdicts commit BEFORE
    the index. A redelivery after a verdict-only commit recomputes
    identical upserts against the unchanged index; a redelivery after
    both commits finds the batch ids already REPLACING their own rows
    (idempotent) and an empty affected set. Either way the stores
    converge to the same state a single delivery produces."""
    import os

    from ..operators.dedup import (
        incremental_duplicate_spans, span_profiles_from_index)
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "span_index"))
    verd_table = SnapshotTable(os.path.join(store_root, "span_verdicts"))
    key_type = "string" if hash_fn == "md5" else "bigint"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        try:
            idx = idx_table.read(sp)
        except FileNotFoundError:
            idx = sp.createDataFrame(
                [], f"id {id_type}, key {key_type}, n bigint, bucket int"
            )

        profiles, new_rows, affected_old = incremental_duplicate_spans(
            idx.select("id", "key", "n"), batch_df, id_col=id_col,
            text_col=text_col, k=k, hash_fn=hash_fn, min_count=min_count,
            round_digits=round_digits,
        )
        new_ids = batch_df.select(F.col(id_col).alias("id")).distinct()
        fresh = idx.join(new_ids, "id", "left_anti")
        # cache the batch-derived relations for the batch duration:
        # each merge's bucket collect and write would re-tokenize/
        # re-hash the batch text otherwise — unpersisted before
        # returning, so nothing outlives the batch
        new_rows_b = new_rows.withColumn(
            "bucket", _bucket(F.col("key"), n_buckets)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            post_index = fresh.select("id", "key", "n").unionByName(
                new_rows_b.select("id", "key", "n")
            )

            # ---- verdict upserts (commit FIRST — see docstring) ----
            aff_prof = span_profiles_from_index(
                post_index, affected_old, k=k, min_count=min_count,
                id_col=id_col, round_digits=round_digits,
            )
            upserts = profiles.unionByName(aff_prof).withColumn(
                "vbucket", _bucket(F.col(id_col), n_buckets)
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                verd_table.merge_rows(sp, upserts, [upserts.select(id_col)],
                                      ["vbucket"])
            finally:
                upserts.unpersist()
            idx_table.merge_rows(sp, new_rows_b, [new_ids], ["bucket"])
        finally:
            new_rows_b.unpersist()

    return _apply


def minhash_dedup_batch_fn(
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
    n_buckets: int = 64,
):
    """foreachBatch function maintaining a persisted MinHash band index
    + a near-dup candidate PAIR table under `store_root` (SnapshotTables
    "band_index" and "dup_pairs") — the streaming head of the
    document-level dedup pipeline, symmetric with span_dedup_batch_fn.

    Invariant (tested): after every micro-batch, dup_pairs ==
    minhash_lsh_pairs(current corpus), where "current" means the latest
    ingested version of each doc — so cluster survivorship
    (graph.dedup_clusters over the pair table) is available at any
    batch boundary without ever re-pairing the corpus. Per batch the
    only join is new-bands against the band index
    (incremental_minhash_pairs); replayed ids REPLACE their index rows
    AND retire every stale pair they touch.

    Storage mirrors the span head: both tables hash-bucketed and
    upserted with `SnapshotTable.merge_rows`, the pair table committed
    BEFORE the index so a foreachBatch redelivery converges from either
    commit point."""
    import os

    from ..operators.dedup import incremental_minhash_pairs
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "band_index"))
    pairs_table = SnapshotTable(os.path.join(store_root, "dup_pairs"))
    key_type = "string" if hash_fn == "md5" else "bigint"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        try:
            idx = idx_table.read(sp)
        except FileNotFoundError:
            idx = sp.createDataFrame(
                [], f"id {id_type}, band int, key {key_type}, bucket int"
            )

        new_pairs, new_rows = incremental_minhash_pairs(
            idx.select("id", "band", "key"), batch_df, id_col=id_col,
            text_col=text_col, k=k, num_hashes=num_hashes, bands=bands,
            hash_fn=hash_fn,
        )
        new_ids = batch_df.select(F.col(id_col).alias("id")).distinct()
        new_rows_b = new_rows.withColumn(
            "bucket", _bucket(F.col("key"), n_buckets)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        new_pairs_b = new_pairs.withColumn(
            "pbucket", _bucket(F.col("id_a"), n_buckets)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # pairs commit FIRST (see docstring); a replayed id retires
            # every pair it sits in, on either side
            pairs_table.merge_rows(
                sp, new_pairs_b,
                [new_ids.withColumnRenamed("id", side) for side in ("id_a", "id_b")],
                ["pbucket"],
            )
            idx_table.merge_rows(sp, new_rows_b, [new_ids], ["bucket"])
        finally:
            new_rows_b.unpersist()
            new_pairs_b.unpersist()

    return _apply


def ivf_index_batch_fn(
    store_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
):
    """foreachBatch function maintaining a persisted IVF vector index
    under `store_root` (SnapshotTable "ivf_index", list_id-partitioned,
    plus "centroids.npy") — the streaming head of the ANN pipeline,
    symmetric with the span/minhash heads.

    Bootstrap trains centroids on the FIRST batch (the deterministic
    bounded driver sample of build_ivf_index) and commits them
    atomically (tmp+rename) BEFORE the first index write, so a
    foreachBatch redelivery re-reads the same centroids instead of
    retraining on different data. Every batch then assigns its vectors
    with one broadcast-centroid Arrow pass (extend_ivf_index) and
    upserts them with `SnapshotTable.merge_rows`, which rewrites ONLY
    the touched list partitions: a replayed id is retired wherever it
    sits, so a re-ingested vector whose assignment moved lists leaves
    no stale row in its old list.

    Invariant (tested): after every micro-batch the table equals
    extend_ivf_index(latest version of every ingested vector, cents).
    Centroids are append-stable by design (assignments are centroid-
    relative); retrain = a new store_root when drift degrades recall."""
    import os

    from ..operators.similarity import _driver_sample, _kmeans_centroids, extend_ivf_index
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "ivf_index"))
    cents_path = os.path.join(store_root, "centroids.npy")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        # a micro-batch may deliver the same id twice (two ingest files
        # drained together) — collapse to ONE row per id first, picking
        # the lexicographically-greatest vector (file streams carry no
        # intra-batch order, so "last" is undefined; the pick just has
        # to be deterministic so redelivery converges). Centroid
        # training samples the deduped relation for the same reason.
        deduped = batch_df.groupBy(F.col(id_col)).agg(
            F.max(F.col(vec_col)).alias(vec_col)
        )
        if os.path.exists(cents_path):
            cents = np.load(cents_path)
        else:
            sample = _driver_sample(deduped, id_col, vec_col, train_sample)
            cents = _kmeans_centroids(sample, n_lists, seed)
            tmp = cents_path + ".tmp.npy"
            np.save(tmp, cents)
            os.replace(tmp, cents_path)

        rows = extend_ivf_index(deduped, cents, id_col=id_col,
                                vec_col=vec_col).localCheckpoint(eager=True)
        # an empty table (bootstrap, or centroids committed but the
        # bootstrap write lost to a crash) takes the rows as an append
        idx_table.merge_rows(sp, rows, [rows.select("neighbor_id")],
                             ["list_id"])

    return _apply


def start_ivf_index_stream(
    spark,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
    **kwargs,
):
    """File-source streaming IVF index upkeep: new parquet embedding
    files under `input_dir` extend the persisted index micro-batch by
    micro-batch (ivf_index_batch_fn). The availableNow trigger drains
    what exists, then stops; a restart resumes from `checkpoint_dir`.
    Returns the StreamingQuery.

    `max_files_per_trigger` caps the files per micro-batch (Spark
    rejects a value below 1): 1 forces one micro-batch per staged file,
    and None drains every pending file in ONE batch (pre-staged
    multi-file tests would then only exercise the bootstrap path)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(input_dir).writeStream
        .foreachBatch(ivf_index_batch_fn(store_root, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _round(v, digits: int = 6):
    """round(v + 1e-9, digits): the batch operators' rounding, Python side."""
    return round(v + 1e-9, digits)


# in-batch order of the event heads: event time, then the tiebreak id
_TS_ORDER = ["_ts_us", "_tb"]


def _keyed_state_head(narrow: DataFrame, key_col: str, order_cols,
                      state_schema: StructType, out_fields, step):
    """The one `applyInPandasWithState` frame of the keyed-state heads:
    `narrow` grouped by `key_col`, append mode.

    Per key and micro-batch the key's rows are concatenated (a key with
    no rows is skipped) and sorted by `order_cols` (None keeps them
    unsorted, for order-free folds), then
    ``step(state, pdf) -> (new_state, out)`` runs with the carried state
    tuple, or None for a key seen for the first time. A non-None
    `new_state` replaces the state; `out`, a {column: list} dict in
    `out_fields` order (or None), is emitted with the key column
    prepended. The output schema is (key_col, *out_fields), the key
    typed as in `narrow`.

    State is one row per key ever seen and nothing evicts it (NoTimeout):
    it grows with the key population, not with the stream. Heads whose
    fold is order-dependent assume per-key in-order delivery ACROSS
    batches — a row older than the carried state in a later batch is
    folded as current."""
    out_schema = StructType(
        [StructField(key_col, narrow.schema[key_col].dataType), *out_fields]
    )

    def fn(key, pdfs, state):
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts)
        if order_cols:
            pdf = pdf.sort_values(order_cols)
        new_state, out = step(state.get if state.exists else None, pdf)
        if new_state is not None:
            state.update(new_state)
        if out:
            n = len(next(iter(out.values())))
            yield pd.DataFrame({key_col: [key[0]] * n, **out})

    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def _run_stats_step(type_col: str, loop_threshold: int):
    def differs(a, b):
        # IS DISTINCT FROM, matching the batch operator's oracle:
        # None vs None continues a run, None vs value is a change
        return (a is None) != (b is None) or (a is not None and a != b)

    def step(st, pdf):
        types = list(pdf[type_col])
        last_type, run_len, max_run, n_events, n_runs = st or (None, 0, 0, 0, 0)
        has_carry = n_events > 0
        seq = ([last_type] + types) if has_carry else types
        breaks = [i - 1 for i in range(1, len(seq)) if differs(seq[i], seq[i - 1])]
        seg_starts = [0] + [b + 1 for b in breaks]
        seg_ends = breaks + [len(seq) - 1]
        for i, (s, z) in enumerate(zip(seg_starts, seg_ends)):
            seg_len = z - s + 1
            if i == 0 and has_carry:
                # the marker isn't an event; a lone marker (types[0]
                # differs) gives the carried run back, already counted
                seg_len = run_len + seg_len - 1
            else:
                n_runs += 1
            max_run = max(max_run, seg_len)
            run_len = seg_len  # after the loop: the TRAILING run length
        n_events += len(types)
        return (types[-1], run_len, max_run, n_events, n_runs), {
            "n_events": [n_events],
            "n_runs": [n_runs],
            "max_run": [max_run],
            "repeat_frac": [_round((n_events - n_runs) / n_events)],
            "looping": [int(max_run >= loop_threshold)],
        }

    return step


def streaming_run_stats(
    stream_df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    loop_threshold: int = 5,
):
    """LIVE agent-loop detection: the stateful streaming twin of
    operators/runs.event_run_stats. Per-key state carries (last type,
    current run length, max run, event/run counts) across micro-batch
    boundaries via applyInPandasWithState, so a run that spans batches
    counts as ONE run; after each batch the operator emits the key's
    cumulative (n_events, n_runs, max_run, repeat_frac, looping) row —
    an update stream whose latest row per key equals the batch operator
    over everything ingested so far (tested, incl. restart).

    Ordering: rows are sorted by (ts, tiebreak) WITHIN each batch; a
    row older than the carried last event in a LATER batch is treated
    as current (the standard in-order-per-key ingestion assumption —
    bound it with source ordering, as the file-stream tests do).
    State is one tiny tuple per key."""
    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),  # natural type — any orderable
    )
    # the carried type keeps the INPUT's type (string names, int codes,
    # ... all work); only the stats columns are fixed
    state_schema = StructType([
        StructField("last_type", stream_df.schema[type_col].dataType),
        StructField("run_len", LongType()),
        StructField("max_run", LongType()),
        StructField("n_events", LongType()),
        StructField("n_runs", LongType()),
    ])
    out_fields = [
        StructField("n_events", LongType()),
        StructField("n_runs", LongType()),
        StructField("max_run", LongType()),
        StructField("repeat_frac", DoubleType()),
        StructField("looping", IntegerType()),
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _run_stats_step(type_col, loop_threshold))


def _psi_step(group_col: str, ref_stats: dict, n_bins: int, eps: float,
              round_digits: int):
    def step(st, pdf):
        counts = list(st or [0] * n_bins)
        for b, n in pdf["_bin"].value_counts().items():
            counts[int(b)] += int(n)
        n_ref, p_ref = ref_stats[pdf[group_col].iloc[0]]
        tot = sum(counts)
        psi = 0.0
        for b in range(n_bins):
            pc = counts[b] / tot + eps
            psi += (pc - p_ref[b]) * math.log(pc / p_ref[b])
        return tuple(counts), {
            "n_ref": [n_ref],
            "n_cur": [tot],
            "psi": [_round(psi, round_digits)],
        }

    return step


def streaming_psi(
    stream_df: DataFrame,
    ref: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
):
    """LIVE distribution-drift monitoring: the streaming twin of
    operators/drift.psi_by_group. The REFERENCE slice is frozen up
    front — its per-group decile edges and smoothed bin fractions are
    computed once batch-side (tiny: groups x bins, the operator's scale
    contract) and carried into the stream; each micro-batch's rows are
    binned MAP-ONLY against the broadcast edges (stream-static join +
    the shared bin_index_column expression), and per-group cumulative
    bin counts live in applyInPandasWithState. After every batch each
    touched group emits its cumulative (n_ref, n_cur, psi) row — an
    update stream whose latest row per group equals the BATCH
    psi_by_group(ref, everything-ingested-so-far) (tested; the driver
    query hash-matches the psi_drift oracle).

    Groups absent from the reference are dropped exactly like the batch
    operator (no edges — the stream-static inner join filters them).
    State per group is the n_bins count vector; PSI arithmetic replays
    the batch formula term-for-term in fixed bin order with the same
    eps smoothing and round(+1e-9) discipline."""
    from ..operators.drift import bin_index_column, reference_edges

    edges = reference_edges(ref, group_col, value_col, n_bins, round_digits)
    # freeze the reference side: smoothed fractions per (group, bin) —
    # bounded by groups x bins, the same driver-state contract as the
    # k-means centroids
    ref_binned = ref.join(F.broadcast(edges), group_col).select(
        group_col, bin_index_column(value_col).alias("_bin")
    )
    ref_rows = (
        ref_binned.groupBy(group_col, "_bin")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ref_counts: dict = {}
    for r in ref_rows:
        g = r[group_col]
        ref_counts.setdefault(g, [0] * n_bins)[r["_bin"]] += r["n"]
    ref_stats = {
        g: (sum(c), [c[b] / sum(c) + eps for b in range(n_bins)])
        for g, c in ref_counts.items()
    }

    binned = stream_df.join(F.broadcast(edges), group_col).select(
        group_col, bin_index_column(value_col).alias("_bin")
    )
    state_schema = StructType(
        [StructField(f"b{i}", LongType()) for i in range(n_bins)]
    )
    out_fields = [
        StructField("n_ref", LongType()),
        StructField("n_cur", LongType()),
        StructField("psi", DoubleType()),
    ]
    return _keyed_state_head(
        binned, group_col, None, state_schema, out_fields,
        _psi_step(group_col, ref_stats, n_bins, eps, round_digits),
    )


def contamination_batch_fn(
    store_root: str,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_fn: str = "md5",
    n_buckets: int = 64,
):
    """foreachBatch function for STREAMING train/test decontamination —
    the live twin of operators/dedup.ngram_contamination, so newly
    ingested training documents are screened against the frozen
    evaluation set as they arrive instead of in a end-of-pipeline batch
    sweep.

    The test side is frozen at head construction (its distinct n-gram
    hash keys — benchmark-set-sized, so the per-batch probe join is
    AQE-broadcastable exactly like the batch operator). Contamination
    is a PURE per-document function of (own text, frozen keys): no
    cross-batch state is needed, and the maintained "verdicts"
    SnapshotTable is a plain per-id upsert — replayed ids REPLACE their
    row, so foreachBatch redelivery converges trivially.

    Invariant (tested): after every micro-batch, verdicts ==
    ngram_contamination(latest version of every ingested doc, test).
    Storage mirrors the other heads: hash-bucketed by id and upserted
    with `SnapshotTable.merge_rows`."""
    import os

    from ..operators.dedup import ngram_contamination
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "verdicts"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        # latest version per id within the batch (a replay file can
        # carry the same id twice): keep the max text by (length, text)
        # struct — deterministic, matches the other heads' intra-batch
        # dedupe discipline
        latest = (
            batch_df.groupBy(F.col(id_col))
            .agg(F.max(F.struct(F.length(text_col).alias("_l"),
                                F.col(text_col).alias("_t"))).alias("_s"))
            .select(F.col(id_col), F.col("_s._t").alias(text_col))
        )
        prof = ngram_contamination(
            latest, test, id_col=id_col, text_col=text_col, n=n,
            hash_fn=hash_fn,
        ).withColumn(
            "bucket", _bucket(F.col(id_col).cast("string"), n_buckets)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            table.merge_rows(sp, prof, [prof.select(id_col)], ["bucket"])
        finally:
            prof.unpersist()

    return _apply


def _zscore_step(order_col: str, value_col: str, window: int,
                 min_points: int, threshold: float):
    def step(st, pdf):
        hist = list(st[0]) if st else []
        orders, vals, bases, zs = [], [], [], []
        for o, v in zip(pdf[order_col], pdf[value_col]):
            v = None if pd.isna(v) else float(v)
            # batch parity for NULL values: a null row occupies a frame
            # slot (n_base = count(*) counts it) but contributes nothing
            # to mean/std (avg/stddev_samp skip nulls) and is itself
            # never flagged
            base = hist[-window:]
            nb = len(base)
            nn = [b for b in base if b is not None]
            if v is not None and nb >= min_points and len(nn) >= 2:
                m = sum(nn) / len(nn)
                var = sum((b - m) ** 2 for b in nn) / (len(nn) - 1)
                if var > 0:
                    z = _round((v - m) / math.sqrt(var))
                    if abs(z) > threshold:
                        orders.append(o)
                        vals.append(v)
                        bases.append(nb)
                        zs.append(z)
            hist.append(v)
        out = {order_col: orders, value_col: vals, "n_base": bases, "z": zs}
        return (hist[-window:],), out if orders else None

    return step


def streaming_anomaly_zscore(
    stream_df: DataFrame,
    key_col: str = "user_id",
    order_col: str = "event_id",
    value_col: str = "value",
    window: int = 20,
    min_points: int = 5,
    threshold: float = 2.0,
):
    """LIVE causal anomaly monitoring: the streaming twin of
    operators/tsstats.rolling_zscore_anomalies. Per-series state is the
    trailing `window` values (bounded: W doubles per key); each
    micro-batch's points are scored against state + earlier points of
    the same batch, flagged rows are emitted append-mode, and the state
    advances to the last W values seen.

    Emits (key, order, value, n_base, z) — exactly the batch operator's
    flagged relation — PROVIDED batches arrive in `order_col` order per
    key (the file-staging discipline: order-ranged files, pinned
    mtimes, maxFilesPerTrigger=1) and `order_col` order matches the
    batch operator's (ts, tiebreak) order (true whenever ts is
    monotone in the tiebreak id, as in the driver events table). The
    z arithmetic replays the batch formula: trailing-W mean,
    sample std, round(z + 1e-9, 6) — including the batch NULL
    semantics (null rows occupy frame slots but never contribute to
    the moments and are never flagged)."""
    narrow = stream_df.select(key_col, order_col, value_col)
    out_fields = [
        StructField(order_col, stream_df.schema[order_col].dataType),
        StructField(value_col, DoubleType()),
        StructField("n_base", LongType()),
        StructField("z", DoubleType()),
    ]
    return _keyed_state_head(
        narrow, key_col, [order_col],
        StructType([StructField("vals", ArrayType(DoubleType()))]),
        out_fields,
        _zscore_step(order_col, value_col, window, min_points, threshold),
    )


def streaming_session_window(
    stream_df: DataFrame,
    gap: str = "12 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "1 second",
) -> DataFrame:
    """Gap-based sessionization on Spark's NATIVE session_window — the
    engine's streamed sessionization. The built-in merges an event into
    the open session when its timestamp is within `gap` of the
    session's last event (boundary-inclusive: an event exactly
    `gap` later still merges — verified against the batch gaps-and-
    islands construction, which opens on diff > gap), keeps per-session
    state in the engine's own state store (RocksDB-capable, no Python
    state), and EMITS a session exactly once, in the micro-batch whose
    watermark passes the session's window end:

        emitted  <=>  last_event_ts + gap <= max_seen_ts - delay

    so the trailing open session per key is withheld until later data
    (or a sentinel) closes it, with merging, state eviction and
    late-data handling all inside the JVM. Note the
    eviction corollary: an event arriving BELOW the watermark is late
    data and starts a fresh session rather than reopening an evicted
    one (tests pin this); with globally time-ordered ingest (the
    engine's staging contract — ts monotone in event_id) no event is
    ever late and cross-batch merges are exact.

    Returns (key, session_start, session_end, n_events) where
    session_start/end are the first/last observed event times (the
    engine's window end is last + gap; subtracting is left to the
    caller since min/max are cheaper than struct surgery)."""
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(key_col, "session_start", "session_end", "n_events")
    )


def hll_batch_fn(store_root: str, col: str = "tok", p: int = 10):
    """foreachBatch function for a LIVE cardinality monitor: maintains
    the deterministic HLL's bucket state (operators/sketch) across
    micro-batches, so "how many distinct values have we ever seen"
    stays answerable in O(2^p) state while the stream grows without
    bound — the streaming use-case HLL was designed for.

    State discipline: the per-bucket max-rank relation is mergeable by
    plain groupBy-max, and max is IDEMPOTENT — re-delivering a batch
    (foreachBatch's at-least-once contract) merges to the identical
    state, so no dedup ledger is needed. Durability: the state lives
    in a SnapshotTable (manifest-first commits, the engine's table
    layer) — a crash mid-write leaves the previous committed snapshot
    intact, so the merged state can never be lost to a half-written
    overwrite (a bare parquet overwrite deletes before it writes).
    The state table is <= 2^p rows, collected driver-side per batch
    (bounded by construction)."""
    import os

    from ..operators.sketch import hll_bucket_rows
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "hll_state"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        fresh = hll_bucket_rows(batch_df, col, p)
        if table.current_snapshot_id() is not None:
            prev = table.read(sp)
            merged = (
                prev.unionByName(fresh)
                .groupBy("_b").agg(F.max("_rmax").cast("int").alias("_rmax"))
            )
        else:
            merged = fresh
        # materialize BEFORE overwriting the relation being read; <= 2^p
        # rows by construction, so the driver hop is bounded
        rows = merged.collect()
        table.overwrite(sp.createDataFrame(rows, "_b long, _rmax int"))

    return _apply


def hll_state_estimate(spark, store_root: str, p: int = 10,
                       round_digits: int = 2) -> DataFrame:
    """Single-row estimate from the streamed bucket state — equals
    operators/sketch.hll_distinct over everything ingested. A stream
    that never saw a non-empty batch has no state yet: that is the
    defined empty sketch (estimate 0), not an error."""
    import os

    from ..operators.sketch import hll_estimate_from_buckets
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "hll_state"))
    if table.current_snapshot_id() is None:
        state = spark.createDataFrame([], "_b long, _rmax int")
    else:
        state = table.read(spark)
    return hll_estimate_from_buckets(state, p, round_digits)


_PART_FILE = "part-0.parquet"
# the JSON StructType Spark stores in the footer of every parquet file it
# writes; partials committed before _commit_partial existed carry it
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _commit_partial(fresh: DataFrame, store_root: str, batch_id: int,
                    keys: tuple[str, ...]) -> None:
    """Commit one micro-batch's mergeable partial as
    ``<store_root>/batch=<id>/part-0.parquet``.

    One ``toArrow()`` collect is the only Spark action (the aggregate's
    map side stays parallel); a 0-row partial commits nothing. The rows
    are sorted by ``keys`` (unique per row, so the bytes do not depend
    on partition order) and written by pyarrow, without statistics
    (every read consumes the whole file), into ``_tmp-batch=<id>/``,
    then swapped in by a rename: a reader never sees a half-written
    partial, and a replay of the id rewrites identical bytes, so
    at-least-once delivery gives exactly-once state.

    Each head bounds the collect by its partial's cardinality;
    ``spark.driver.maxResultSize`` is the hard cap, so an oversized
    partial fails loudly. The store must be on a local filesystem."""
    import os
    import shutil

    import pyarrow.parquet as pq

    table = fresh.toArrow()
    if table.num_rows == 0:
        return
    tmp = os.path.join(store_root, f"_tmp-batch={batch_id}")
    final = os.path.join(store_root, f"batch={batch_id}")
    shutil.rmtree(tmp, ignore_errors=True)  # a crashed earlier attempt
    os.makedirs(tmp)
    pq.write_table(table.sort_by([(k, "ascending") for k in keys]),
                   os.path.join(tmp, _PART_FILE), compression="zstd",
                   store_schema=False, write_statistics=False)
    if not os.path.isdir(final):
        os.rename(tmp, final)
        return
    # a replay: swap the one file in place. An old-layout directory's
    # own part file goes after the swap, so only a reader listing that
    # directory in between can see the batch twice
    os.replace(os.path.join(tmp, _PART_FILE), os.path.join(final, _PART_FILE))
    os.rmdir(tmp)
    for name in os.listdir(final):
        path = os.path.join(final, name)
        if os.path.isdir(path):  # a torn Spark write's _temporary/
            shutil.rmtree(path)
        elif name != _PART_FILE:
            os.remove(path)


def _read_partials(spark, store_root: str) -> DataFrame | None:
    """Every committed partial under ``store_root`` as one relation, or
    None when no batch has committed yet. The schema comes from the
    first data file's footer on the driver (Spark's own StructType
    JSON in an old-layout file, else the Arrow schema with tz-less
    timestamps as TIMESTAMP_NTZ), so the read runs no schema-inference
    job. ``_tmp-batch=<id>`` leftovers of a crashed commit are not
    read."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(glob.glob(os.path.join(store_root, "batch=*", "*.parquet")))
    if not files:
        return None
    footer = pq.read_schema(files[0])
    spark_json = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
    schema = (StructType.fromJson(json.loads(spark_json)) if spark_json
              else from_arrow_schema(footer, prefer_timestamp_ntz=True))
    dirs = sorted({os.path.dirname(f) for f in files})
    return spark.read.schema(schema).parquet(*dirs)


def cms_batch_fn(store_root: str, col: str = "tok", d: int = 4, w: int = 512):
    """foreachBatch function for a LIVE token-frequency monitor:
    maintains the deterministic Count-Min counter state
    (operators/sketch) across micro-batches — point-frequency and
    heavy-hitter queries stay answerable in O(d*w) state while the
    stream grows without bound.

    State discipline — the OTHER exactly-once pattern: CMS counters
    merge by SUM, which (unlike the HLL's max) is NOT idempotent, so a
    replayed delivery would double-count if batches were merged into
    one running total. Instead each micro-batch's partial counter
    relation is committed by ``_commit_partial`` as its own sorted,
    driver-written ``batch=<id>/part-0.parquet``, swapped in by a
    rename: foreachBatch retries re-deliver the SAME batch_id, the
    rewrite is byte-identical, and the read side sums across batch
    directories — at-least-once delivery converges to exactly-once
    state without a transactional sink. The driver collect is <= d*w
    rows."""
    from ..operators.sketch import cms_counter_rows

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _commit_partial(cms_counter_rows(batch_df, col, d, w), store_root,
                        batch_id, ("_row", "_b"))

    return _apply


def cms_state_counters(spark, store_root: str) -> DataFrame:
    """The merged counter state from every committed batch partial —
    equals operators/sketch.cms_counter_rows over everything ingested.
    A stream that never saw a non-empty batch has the defined empty
    sketch (every estimate reads 0)."""
    parts = _read_partials(spark, store_root)
    if parts is None:
        return spark.createDataFrame([], "_row int, _b int, _n long")
    return (
        parts.groupBy("_row", "_b")
        .agg(F.sum("_n").cast("long").alias("_n"))
    )


def ddsketch_batch_fn(store_root: str, value_col: str = "value",
                      group_cols: tuple[str, ...] = ("event_type",),
                      alpha: float = 0.01):
    """foreachBatch function for a LIVE quantile monitor: maintains the
    DDSketch bucket relation (operators/sketch) across micro-batches —
    p50/p90/p99 with a relative-error guarantee stay answerable in
    groups x O(log range) state while the stream grows without bound.

    State discipline: bucket counts merge by SUM (not idempotent), so
    this uses the cms_batch_fn exactly-once pattern — each batch's
    partial bucket relation is committed by ``_commit_partial`` as its
    own sorted ``batch=<id>/part-0.parquet``; foreachBatch retries
    re-deliver the same batch_id and rewrite the identical bytes; the
    read side sums across batch directories, so at-least-once delivery
    converges to exactly-once state. The driver collect is <= groups x
    buckets rows."""
    from ..operators.sketch import ddsketch_buckets

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _commit_partial(ddsketch_buckets(batch_df, value_col, group_cols, alpha),
                        store_root, batch_id, (*group_cols, "bkt"))

    return _apply


def ddsketch_state_buckets(
    spark, store_root: str,
    group_cols: tuple[str, ...] = ("event_type",),
    group_schema: str = "event_type string",
) -> DataFrame:
    """The merged bucket relation from every committed batch partial —
    equals operators/sketch.ddsketch_buckets over everything ingested,
    so operators/sketch.ddsketch_quantiles reads identically off it
    (the == batch invariant the driver query pins). An empty stream is
    the defined empty sketch."""
    parts = _read_partials(spark, store_root)
    if parts is None:
        return spark.createDataFrame([], f"{group_schema}, bkt int, cnt long")
    return (
        parts.groupBy(*group_cols, "bkt")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def m4_batch_fn(store_root: str, bucket_sec: int = 3600,
                key_cols: tuple[str, ...] = ("event_type",),
                ts_col: str = "ts", value_col: str = "value",
                tiebreak_col: str = "event_id"):
    """foreachBatch function for LIVE M4 downsampling: each
    micro-batch's mergeable partial (operators/downsample.m4_partial —
    selector structs + count) is committed by ``_commit_partial`` as
    its own sorted ``batch=<id>/part-0.parquet``; replays rewrite
    identical bytes (the cms/ddsketch exactly-once pattern — the count
    field is a sum, so a merged running state would double-count on
    redelivery). The driver collect is <= keys x buckets rows in the
    batch, independent of event volume."""
    from ..operators.downsample import m4_partial

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fresh = m4_partial(batch_df, bucket_sec, key_cols, ts_col,
                           value_col, tiebreak_col)
        _commit_partial(fresh, store_root, batch_id, (*key_cols, "bucket_idx"))

    return _apply


def m4_state(spark, store_root: str, bucket_sec: int = 3600,
             key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Finalized M4 rows from every committed batch partial — equals
    operators/downsample.m4_downsample over everything ingested (the
    merge uses the same selectors that built the partials). An empty
    stream yields the empty relation, keyed by ``key_cols`` as string
    columns."""
    from ..operators.downsample import m4_finalize, m4_merge

    parts = _read_partials(spark, store_root)
    if parts is None:
        keys = ", ".join(f"{c} string" for c in key_cols)
        return spark.createDataFrame(
            [], f"{keys}, bucket_idx long, "
                "bucket_start timestamp, v_first double, v_last double, "
                "v_min double, v_max double, t_min_sec double, "
                "t_max_sec double, n long")
    return m4_finalize(m4_merge(parts, key_cols), bucket_sec, key_cols)


def grid_batch_fn(store_root: str,
                  key_cols: tuple[str, ...] = ("user_id",),
                  ts_col: str = "ts", value_col: str = "value"):
    """foreachBatch function maintaining the MERGEABLE HOURLY GRID —
    per (key, hour) value sum + count, the sufficient statistic behind
    the whole grid family (Mann-Kendall, Theil-Sen, Holt's grid,
    seasonal profiles): any of their batch tails can run off the
    merged state at any time. Sum/count partials are committed by
    ``_commit_partial`` as one sorted ``batch=<id>/part-0.parquet``
    each (the cms exactly-once pattern: sums are not idempotent,
    replays rewrite identical bytes). The driver collect is <= keys x
    hours rows, and never more than the batch's rows."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fresh = (
            batch_df.groupBy(
                *key_cols, F.date_trunc("hour", F.col(ts_col)).alias("h"))
            .agg(F.sum(F.col(value_col).cast("double")).alias("s"),
                 F.count("*").cast("long").alias("c"))
        )
        _commit_partial(fresh, store_root, batch_id, (*key_cols, "h"))

    return _apply


def grid_state(spark, store_root: str,
               key_cols: tuple[str, ...] = ("user_id",),
               key_schema: str = "user_id long",
               round_digits: int = 6) -> DataFrame:
    """The merged hourly mean grid (key..., h, x) from every committed
    batch partial — sum-of-sums / sum-of-counts, rounded with the
    repo's half-up discipline, so it equals the batch grid that
    mann_kendall & co. build directly (the 6-decimal round absorbs the
    partial-sum association order, exactly as it absorbs Spark's own
    partition order in the batch path)."""
    parts = _read_partials(spark, store_root)
    if parts is None:
        return spark.createDataFrame(
            [], f"{key_schema}, h timestamp, x double")
    return (
        parts.groupBy(*key_cols, "h")
        .agg(F.round(F.sum("s") / F.sum("c") + F.lit(1e-9),
                     round_digits).alias("x"))
    )


_HOUR_US = 3_600_000_000


def _hour_grid_step(fold0: tuple, commit, emit):
    """The fold step of the hour-grid forecasters (holt, holt_winters).
    State is (open hour us, its count so far, *fold, n_events). An hour
    is committed once, with its full count, when a later hour arrives;
    the empty hours of a gap commit 0.0 (the batch grid's zero fill).
    ``emit(n_events, fold)`` sees the fold with the still-open hour
    committed provisionally and returns the output columns or None."""

    def step(st, pdf):
        cur_hour, cur_cnt, *fold, n_events = st or (None, 0, *fold0, 0)
        hours = (pdf["_ts_us"] // _HOUR_US) * _HOUR_US
        for h, c in hours.value_counts().sort_index().items():
            h, c = int(h), int(c)
            if cur_hour is not None and h != cur_hour:
                fold = commit(fold, float(cur_cnt))
                for _ in range((h - cur_hour) // _HOUR_US - 1):
                    fold = commit(fold, 0.0)
                cur_cnt = 0
            cur_hour, cur_cnt = h, cur_cnt + c
        n_events += len(pdf)
        return ((cur_hour, cur_cnt, *fold, n_events),
                emit(n_events, commit(fold, float(cur_cnt))))

    return step


def _holt_step(alpha: float, beta: float, horizon: int, round_digits: int):
    a1, a0 = float(alpha), float(1.0 - alpha)
    b1, b0 = float(beta), round(1.0 - beta, 12)

    def commit(st, y):
        """Fold one completed grid hour into (n, y_prev, l, b, sse)."""
        n, y_prev, l, b, sse = st
        if n == 0:
            return (1, y, l, b, sse)
        if n == 1:
            # l1 = y1, b1 = y1 - y0 (the batch init)
            return (2, y, y, y - y_prev, 0.0)
        pred = l + b
        e = y - pred
        l2 = _round(a1 * y + a0 * pred, round_digits)
        b2 = _round(b1 * (l2 - l) + b0 * b, round_digits)
        return (n + 1, y, l2, b2, sse + e * e)

    def emit(n_events, fold):
        pn, _, pl, pb, psse = fold
        if pn < 3:
            return None
        return {
            "n_events": [n_events],
            "n_hours": [pn],
            "level": [pl],
            "trend": [pb],
            "forecast_h": [_round(pl + float(horizon) * pb, round_digits)],
            "rmse_1step": [_round((psse / (pn - 2)) ** 0.5, round_digits)],
        }

    return _hour_grid_step((0, 0.0, 0.0, 0.0, 0.0), commit, emit)


def streaming_holt(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 24,
    round_digits: int = 6,
):
    """LIVE Holt forecaster: the stateful streaming twin of
    operators/tsstats.holt_linear. Per-key state carries the recursion
    (open hour bucket + its partial count, the last committed level/
    trend/SSE, and the y-history needed for initialization) across
    micro-batch boundaries via applyInPandasWithState, so an hour
    split across batches folds ONCE with its full count and the gap
    hours between events fold as the zero-filled grid does in batch.

    After each batch the operator emits the key's cumulative fitted
    row — (n_hours, level, trend, forecast_h, rmse_1step) over
    everything ingested so far INCLUDING the still-open hour (folded
    provisionally for emission, committed only when a later hour
    arrives) — so the latest row per key equals the batch operator
    over the same prefix, and the final row matches `holt_forecast`'s
    SQL oracle exactly. `n_events` (cumulative, strictly increasing)
    is emitted so downstream can pick the latest row per key without
    relying on ties.

    Ordering: per-key ingestion must be event-time ordered ACROSS
    batches (the run-stats head's assumption; bound it with source
    ordering). State is one tiny tuple per key. Keys with fewer than 3
    grid hours so far emit nothing (matching batch).
    """
    narrow = stream_df.select(
        F.col(key_col), ts_micros(F.col(ts_col)).alias("_ts_us"))
    state_schema = StructType([
        StructField("cur_hour_us", LongType()),
        StructField("cur_cnt", LongType()),
        StructField("n_hours", LongType()),   # committed grid hours
        StructField("y_prev", DoubleType()),  # last committed y (for init)
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("sse", DoubleType()),
        StructField("n_events", LongType()),
    ])
    out_fields = [
        StructField("n_events", LongType()),
        StructField("n_hours", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_h", DoubleType()),
        StructField("rmse_1step", DoubleType()),
    ]
    return _keyed_state_head(
        narrow, key_col, None, state_schema, out_fields,
        _holt_step(alpha, beta, horizon, round_digits),
    )


def _markov_step(matrix: dict, type_col: str, round_digits: int):
    q = 10.0 ** round_digits
    eps = 1e-9
    sep = "\x1f"  # unit separator — cannot appear in event-type names

    def half_up(x):
        # half-up rounding, matching Spark/DuckDB round() for
        # non-negative inputs (python round() is banker's)
        return math.floor((x + eps) * q + 0.5) / q

    def step(st, pdf):
        types = [t for t in pdf[type_col] if t is not None]
        if not types:
            return None, None
        last_type, pair_keys, pair_counts, n_unseen = st or (None, [], [], 0)
        counts = dict(zip(list(pair_keys), [int(c) for c in pair_counts]))
        n_unseen = int(n_unseen)
        seq = ([last_type] + types) if last_type is not None else types
        for f, t in zip(seq, seq[1:]):
            if (f, t) in matrix:
                k = f + sep + t
                counts[k] = counts.get(k, 0) + 1
            else:
                n_unseen += 1
        new_state = (types[-1], list(counts), [counts[k] for k in counts],
                     n_unseen)
        n = sum(counts.values())
        if n == 0:
            return new_state, {
                "n_transitions": [0], "nll_bits": [None],
                "max_surprise_bits": [None], "surprise_from": [None],
                "surprise_to": [None], "n_unseen": [n_unseen],
            }
        tot = 0.0
        best = None  # (-rbits, f, t): min == bits desc, then pair asc
        for k in sorted(counts):  # deterministic summation order
            f, t = k.split(sep)
            bits = -math.log2(matrix[(f, t)])
            tot += counts[k] * bits
            cand = (-half_up(bits), f, t)
            if best is None or cand < best:
                best = cand
        return new_state, {
            "n_transitions": [n],
            "nll_bits": [half_up(tot / n)],
            "max_surprise_bits": [-best[0]],
            "surprise_from": [best[1]],
            "surprise_to": [best[2]],
            "n_unseen": [n_unseen],
        }

    return step


def streaming_markov_nll(
    stream_df: DataFrame,
    matrix: dict,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
):
    """LIVE sequence-anomaly scoring: the stateful streaming twin of
    operators/markov.markov_nll against a FROZEN transition matrix
    (``matrix``: {(from, to): prob} — train it batch-side with
    event_transitions and freeze; the reference-edges discipline the
    PSI head uses). Per-key state carries the last event type plus the
    per-(from, to) transition counts — a |types|^2-bounded pair of
    arrays, NOT the stream — so a transition spanning a micro-batch
    boundary scores exactly once. After each batch the key emits its
    cumulative (n_transitions, nll_bits, max_surprise_bits, surprise
    pair) row; the latest row per key equals the batch operator over
    everything ingested (same rounded argmax tie-break: bits desc,
    then lexicographic (from, to)).

    Pairs absent from the frozen matrix (never seen in training) carry
    no defined probability; they are counted in ``n_unseen`` and
    excluded from the score — at 100 TB the alternative (a pseudo-count
    floor) is a caller decision, not a silent default.

    State is one small struct per key."""
    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    state_schema = StructType([
        StructField("last_type", stream_df.schema[type_col].dataType),
        StructField("pair_keys", ArrayType(StringType())),
        StructField("pair_counts", ArrayType(LongType())),
        StructField("n_unseen", LongType()),
    ])
    out_fields = [
        StructField("n_transitions", LongType()),
        StructField("nll_bits", DoubleType()),
        StructField("max_surprise_bits", DoubleType()),
        StructField("surprise_from", StringType()),
        StructField("surprise_to", StringType()),
        StructField("n_unseen", LongType()),
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _markov_step(matrix, type_col, round_digits))


_GAP_SUMS = ["n", "s1", "s2", "np", "sx", "sy", "sxx", "syy", "sxy"]


def _gap_deltas_step(type_col: str):
    def step(st, pdf):
        last_type, last_us, pg_type, pg_s = st or (None, None, None, None)
        last_us = None if last_us is None else int(last_us)
        acc: dict = {}  # opening type -> the _GAP_SUMS deltas

        def slot(ty):
            if ty not in acc:
                acc[ty] = [0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0]
            return acc[ty]

        for ty, u in zip(pdf[type_col], pdf["_ts_us"]):
            u = int(u)
            if last_us is not None:
                g = (u - last_us) / 1_000_000.0  # gap opened by last_type
                a = slot(last_type)
                a[0] += 1
                a[1] += g
                a[2] += g * g
                if pg_s is not None:
                    # lag-1 pair (pg_s, g) attributed to the type that
                    # opened the FIRST gap — the batch operator's rule
                    b = slot(pg_type)
                    b[3] += 1
                    b[4] += pg_s
                    b[5] += g
                    b[6] += pg_s * pg_s
                    b[7] += g * g
                    b[8] += pg_s * g
                pg_type, pg_s = last_type, g
            last_type, last_us = ty, u
        out = {type_col: list(acc)}
        out.update((c, [v[i] for v in acc.values()])
                   for i, c in enumerate(_GAP_SUMS))
        return (last_type, last_us, pg_type, pg_s), out if acc else None

    return step


def streaming_gap_deltas(
    stream_df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """LIVE burstiness ingestion: the stateful streaming twin of
    operators/survival.gap_burstiness, emitting per-(actor, type)
    DELTA sufficient statistics each micro-batch. The (B, M) moments
    are functions of ADDITIVE raw sums (n, Σg, Σg², pair sums), so the
    readback is one groupBy-sum over every emitted delta row followed
    by survival.burstiness_finalize — and equals the batch operator
    exactly, including gaps and lag-1 pairs that SPAN micro-batch
    boundaries (state carries the last event's type/time and the last
    completed gap with its opening type).

    Emitting deltas instead of cumulative rows keeps the sink
    append-only and idempotent to downstream summation — no
    latest-row-per-key selection step — and the per-key state is four
    scalars."""
    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    ttype = stream_df.schema[type_col].dataType
    state_schema = StructType([
        StructField("last_type", ttype),
        StructField("last_us", LongType()),
        StructField("pg_type", ttype),
        StructField("pg_s", DoubleType()),
    ])
    out_fields = [StructField(type_col, ttype)] + [
        StructField(c, LongType() if c in ("n", "np") else DoubleType())
        for c in _GAP_SUMS
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _gap_deltas_step(type_col))


def _funnel_step(steps: list, type_col: str, round_digits: int):
    k = len(steps)

    def to_ts(t):
        return None if t is None else pd.Timestamp(np.datetime64(t, "us"))

    def step(st, pdf):
        ts = pdf["_ts_us"].to_numpy(dtype=np.int64)
        tb = pdf["_tb"].to_numpy(dtype=np.int64)
        ty = pdf[type_col].to_numpy()
        reached, t_first, t_deep, bound_us, bound_tb, n_seen = (
            st or (0, None, None, None, None, 0))
        lo = 0
        if bound_us is not None:
            # strictly-after the carried deepest match: first index with
            # (ts, tb) > (bound_us, bound_tb) in the sorted batch
            lo = int(np.searchsorted(ts, bound_us, side="left"))
            n = len(ts)
            while lo < n and (ts[lo] < bound_us
                              or (ts[lo] == bound_us and tb[lo] <= bound_tb)):
                lo += 1
        while reached < k:
            hits = np.nonzero(ty[lo:] == steps[reached])[0]
            if hits.size == 0:
                break
            j = lo + int(hits[0])
            reached += 1
            t_deep, bound_us, bound_tb = int(ts[j]), int(ts[j]), int(tb[j])
            if reached == 1:
                t_first = int(ts[j])
            lo = j + 1
        n_seen += len(ts)
        secs = (_round((t_deep - t_first) / 1e6, round_digits)
                if reached == k else None)
        return (reached, t_first, t_deep, bound_us, bound_tb, n_seen), {
            "steps_reached": [reached],
            "t_first": [to_ts(t_first)],
            "t_deepest": [to_ts(t_deep)],
            "seconds_to_convert": [secs],
            "converted": [reached == k],
            "n_seen": [n_seen],
        }

    return step


def streaming_funnel(
    stream_df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
):
    """LIVE funnel tracking: the stateful streaming twin of
    operators/funnel.funnel_conversion. Per-key state carries (steps
    reached, first/deepest matched timestamps, and the (ts, tiebreak)
    position bound of the deepest match) across micro-batches, so a
    funnel whose steps arrive in different batches still matches — and
    the strictly-after rule holds across the boundary (an event EQUAL
    to the carried bound cannot re-match). After each batch the key's
    cumulative funnel row is emitted, plus `n_seen` (events ingested
    for the key — the monotone column "latest row per key" selections
    key on). The latest row per key equals the batch operator over
    everything ingested (tested, incl. an availableNow restart).

    Same ingestion contract as streaming_run_stats: rows are sorted by
    (ts, tiebreak) WITHIN a batch; cross-batch order must come from the
    source. State is one tuple per key."""
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    state_schema = StructType([
        StructField("reached", IntegerType()),
        StructField("t_first_us", LongType()),
        StructField("t_deep_us", LongType()),
        StructField("bound_us", LongType()),
        StructField("bound_tb", LongType()),
        StructField("n_seen", LongType()),
    ])
    out_fields = [
        StructField("steps_reached", IntegerType()),
        StructField("t_first", TimestampType()),
        StructField("t_deepest", TimestampType()),
        StructField("seconds_to_convert", DoubleType()),
        StructField("converted", BooleanType()),
        StructField("n_seen", LongType()),
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _funnel_step(steps, type_col, round_digits))


def _pattern_step(pattern: str, max_match_len: int):
    rx = re.compile(pattern)
    keep = max(max_match_len - 1, 0)

    def step(st, pdf):
        syms = "".join(pdf["_sym"])
        if not syms:
            return None, None
        tail, seq_len, n_matches, first_match = st or ("", 0, 0, "")
        s = (tail or "") + syms
        last_end = 0
        for m in rx.finditer(s):
            n_matches += 1
            last_end = m.end()
            if not first_match:
                first_match = m.group(0)
        tail = s[last_end:][-keep:] if keep else ""
        seq_len += len(syms)
        return (tail, seq_len, n_matches, first_match), {
            "seq_len": [seq_len],
            "n_matches": [n_matches],
            "first_match": [first_match],
        }

    return step


def streaming_pattern_counts(
    stream_df: DataFrame,
    pattern: str = "E{1,8}P",
    max_match_len: int = 9,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """LIVE MATCH_RECOGNIZE: the stateful streaming twin of
    operators/seqpattern.sequence_pattern_counts for bounded-length
    patterns. Per-key state is (match count, events seen, first match,
    unconsumed symbol tail) where the tail is truncated to
    max_match_len - 1 chars — EXACT, not approximate: leftmost
    non-overlapping scanning means no match ends inside the unconsumed
    region (it would have been consumed), and any future match spans
    at most max_match_len symbols, so it starts within the kept tail.
    After each batch the head emits the key's cumulative row; the
    latest row per key equals the batch operator over everything
    ingested so far (tested, and the driver query hash-matches the
    batch oracle).

    State is O(max_match_len) per actor — smaller than the run-stats
    head's; the in-order-per-key ingestion assumption is identical to
    streaming_run_stats."""
    from ..operators.seqpattern import DEFAULT_SYMBOLS, symbol_column

    narrow = stream_df.select(
        F.col(key_col),
        symbol_column(type_col, DEFAULT_SYMBOLS).alias("_sym"),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    state_schema = StructType([
        StructField("tail", StringType()),
        StructField("seq_len", LongType()),
        StructField("n_matches", LongType()),
        StructField("first_match", StringType()),
    ])
    out_fields = [
        StructField("seq_len", LongType()),
        StructField("n_matches", LongType()),
        StructField("first_match", StringType()),
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _pattern_step(pattern, max_match_len))


def _page_hinkley_step(delta: float, lam: float, round_digits: int):
    d, lm = float(delta), float(lam)

    def step(st, pdf):
        n, sum_x, m, min_m, max_m, breach_us = (
            st or (0, 0.0, 0.0, None, None, None))
        for x, us in zip(pdf["_x"], pdf["_ts_us"]):
            x = float(x)
            n += 1
            sum_x += x
            m += x - sum_x / n - d
            min_m = m if min_m is None else min(min_m, m)
            max_m = m if max_m is None else max(max_m, m)
            if breach_us is None and (_round(m - min_m, round_digits) > lm
                                      or _round(max_m - m, round_digits) > lm):
                breach_us = int(us)
        return (n, sum_x, m, min_m, max_m, breach_us), {
            "n": [n],
            "ph_inc": [_round(m - min_m, round_digits)],
            "ph_dec": [_round(max_m - m, round_digits)],
            "drift": [breach_us is not None],
            "first_breach": [
                pd.to_datetime(breach_us, unit="us")
                if breach_us is not None else pd.NaT
            ],
        }

    return step


def streaming_page_hinkley(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    delta: float = 0.005,
    lam: float = 25.0,
    round_digits: int = 6,
):
    """LIVE Page-Hinkley mean-shift detection: the stateful streaming
    twin of operators/drift.page_hinkley. Per-key state is the
    detector's sufficient statistic — (n, sum x, m, running min/max of
    m, first breach micros) — carried across micro-batch boundaries by
    applyInPandasWithState. The per-row update is the IDENTICAL
    sequence of float operations as the batch operator's ordered window
    frames (prefix mean including the current row, prefix sum of
    terms, running extrema, breach test on the ROUNDED running stats),
    so the latest cumulative row per key equals the batch result
    exactly and the oracle is shared.

    Ordering contract matches streaming_run_stats: rows sort by
    (ts, tiebreak) within each batch and per-key ingestion is assumed
    in order across batches (bound it with source ordering). State is
    one 6-field tuple per key.
    """
    narrow = stream_df.select(
        F.col(key_col),
        F.col(value_col).cast("double").alias("_x"),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("sum_x", DoubleType()),
        StructField("m", DoubleType()),
        StructField("min_m", DoubleType()),
        StructField("max_m", DoubleType()),
        StructField("breach_us", LongType()),
    ])
    out_fields = [
        StructField("n", LongType()),
        StructField("ph_inc", DoubleType()),
        StructField("ph_dec", DoubleType()),
        StructField("drift", BooleanType()),
        StructField("first_breach", TimestampType()),
    ]
    return _keyed_state_head(narrow, key_col, _TS_ORDER, state_schema,
                             out_fields, _page_hinkley_step(delta, lam, round_digits))


def _holt_winters_step(alpha: float, beta: float, gamma: float, period: int,
                       round_digits: int):
    m = int(period)
    a1, a0 = float(alpha), round(1.0 - alpha, 12)
    b1, b0 = float(beta), round(1.0 - beta, 12)
    g1, g0 = float(gamma), round(1.0 - gamma, 12)

    def hw_step(l, b, s, sse, t, y):
        """One recursion step at 0-based position t; returns fresh s."""
        j = t % m
        sold = s[j]
        pred = l + b + sold
        sse = sse + (y - pred) * (y - pred)
        l2 = _round(a1 * (y - sold) + a0 * (l + b), round_digits)
        b2 = _round(b1 * (l2 - l) + b0 * b, round_digits)
        s = list(s)
        s[j] = _round(g1 * (y - l - b) + g0 * sold, round_digits)
        return l2, b2, s, sse

    def commit(st, y):
        """Fold one completed grid hour; st = (n, buf, l, b, s, sse)."""
        n, buf, l, b, s, sse = st
        if n < 2 * m:
            buf = list(buf) + [y]
            n += 1
            if n == 2 * m:
                mean1 = sum(buf[:m]) / float(m)
                mean2 = sum(buf[m:2 * m]) / float(m)
                l = _round(mean1, round_digits)
                b = _round((mean2 - mean1) / m, round_digits)
                s = [_round(v - l, round_digits) for v in buf[:m]]
                sse = 0.0
                for t in range(m, 2 * m):
                    l, b, s, sse = hw_step(l, b, s, sse, t, buf[t])
            return (n, buf, l, b, s, sse)
        l, b, s, sse = hw_step(l, b, s, sse, n, y)
        return (n + 1, buf, l, b, s, sse)

    def emit(n_events, fold):
        pn, _, pl, pb, ps, psse = fold
        if pn < 2 * m:
            return None
        return {
            "n_events": [n_events],
            "n_hours": [pn],
            "level": [pl],
            "trend": [pb],
            "seasonal_amplitude": [_round(max(ps) - min(ps), round_digits)],
            "forecast_24h": [_round(pl + float(m) * pb + ps[(pn - 1) % m],
                                    round_digits)],
            "rmse_1step": [_round((psse / (pn - m)) ** 0.5, round_digits)],
        }

    return _hour_grid_step((0, [], 0.0, 0.0, [], 0.0), commit, emit)


def streaming_holt_winters(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 24,
    round_digits: int = 6,
):
    """LIVE Holt-Winters additive forecaster: the stateful streaming
    twin of operators/tsstats.holt_winters. Extends the streaming_holt
    head with the 24-slot SEASONAL VECTOR riding per-key state as an
    array, plus the init buffer (the first 2*period committed grid
    hours) — initialization in batch needs two full seasons, so the
    stream buffers until the 2m-th hour commits, replays the batch
    init + the fold over hours m..2m-1, and from then on folds each
    committed hour directly. Hour bucketing, gap zero-fill, and the
    provisional fold of the still-open hour all follow streaming_holt;
    the per-step arithmetic (including the per-step rounding of l, b,
    and the touched seasonal slot) is the batch fold's exact float
    sequence, so the latest row per key equals `holt_winters` and the
    oracle is shared. Keys with fewer than 2*period grid hours emit
    nothing (matching batch).
    """
    narrow = stream_df.select(
        F.col(key_col), ts_micros(F.col(ts_col)).alias("_ts_us"))
    state_schema = StructType([
        StructField("cur_hour_us", LongType()),
        StructField("cur_cnt", LongType()),
        StructField("n_hours", LongType()),
        StructField("buf", ArrayType(DoubleType())),
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("sse", DoubleType()),
        StructField("n_events", LongType()),
    ])
    out_fields = [
        StructField("n_events", LongType()),
        StructField("n_hours", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("seasonal_amplitude", DoubleType()),
        StructField("forecast_24h", DoubleType()),
        StructField("rmse_1step", DoubleType()),
    ]
    return _keyed_state_head(
        narrow, key_col, None, state_schema, out_fields,
        _holt_winters_step(alpha, beta, gamma, period, round_digits),
    )


def _lateness_step(alpha: float, round_digits: int):
    from ..operators.sketch import _dd_gamma

    gamma = _dd_gamma(alpha)
    lg = float(math.log(gamma))

    def est_s(bkt):
        return _round(2.0 * gamma ** bkt / (gamma + 1.0) / 1e6, round_digits)

    def step(st, pdf):
        runmax, n, n_late, max_late, bkts, cnts = (
            st or (None, 0, 0, None, [], []))
        counts = dict(zip(list(bkts), list(cnts)))
        for us in pdf["_ts_us"]:
            us = int(us)
            late = (runmax - us) if (runmax is not None and runmax > us) \
                else 0
            runmax = us if runmax is None or us > runmax else runmax
            n += 1
            if late > 0:
                n_late += 1
                max_late = late if max_late is None or late > max_late \
                    else max_late
                b = int(math.ceil(round(math.log(float(late)) / lg, 6)))
                counts[b] = counts.get(b, 0) + 1

        ests = {}
        nl = sum(counts.values())
        if nl > 0:
            items = sorted(counts.items())
            for q in (0.5, 0.95, 0.99):
                target = int(math.floor(q * (nl - 1))) + 1
                cum = 0
                for b, c in items:
                    cum += c
                    if cum >= target:
                        ests[q] = est_s(b)
                        break
        return (runmax, n, n_late, max_late,
                list(counts.keys()), list(counts.values())), {
            "n": [n],
            "n_late": [n_late],
            "frac_late": [_round(n_late / n, round_digits)],
            "p50_late_s": [ests.get(0.5)],
            "p95_late_s": [ests.get(0.95)],
            "p99_late_s": [ests.get(0.99)],
            "max_late_s": [None if max_late is None
                           else _round(max_late / 1e6, round_digits)],
        }

    return step


def streaming_lateness(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    alpha: float = 0.01,
    round_digits: int = 6,
):
    """LIVE out-of-orderness monitor: operators/lateness.lateness_profile
    as a streaming head whose quantiles come from a DDSketch bucket
    store carried IN per-key state — the composition the two designs
    were built for: lateness needs cross-batch sequential state (the
    running event-time max over arrival order), and quantiles in
    bounded state need a mergeable sketch, so the state is
    (running max, n, n_late, exact max lateness, sparse DDSketch
    bucket counts). Every bucket id is the same deterministic
    ceil(round(ln(x)/ln(gamma), 6)) the batch DDSketch relation uses,
    so the oracle replays the entire pipeline in SQL: exact late_us
    per row, dd-bucketed, quantile-selected — the streamed estimates
    hash-match it.

    After each batch the key emits cumulative (n, n_late, frac_late,
    p50/p95/p99 lateness estimates in seconds, exact max) — the
    watermark-sizing dashboard kept warm while the stream runs. State
    is O(log-range) buckets per key.
    """
    narrow = stream_df.select(
        F.col(key_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(arrival_col).alias("_arr"),
    )
    state_schema = StructType([
        StructField("runmax_us", LongType()),
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("max_late_us", LongType()),
        StructField("bkts", ArrayType(IntegerType())),
        StructField("cnts", ArrayType(LongType())),
    ])
    out_fields = [
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("frac_late", DoubleType()),
        StructField("p50_late_s", DoubleType()),
        StructField("p95_late_s", DoubleType()),
        StructField("p99_late_s", DoubleType()),
        StructField("max_late_s", DoubleType()),
    ]
    return _keyed_state_head(narrow, key_col, ["_arr"], state_schema,
                             out_fields, _lateness_step(alpha, round_digits))
