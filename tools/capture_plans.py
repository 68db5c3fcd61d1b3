"""Capture .explain('formatted') output for the bench-visible queries into
plans/r07/<name>_<tag>.txt (tag = before/after). Plans only — nothing is
executed, so this is safe to run alongside other work.

Usage: python tools/capture_plans.py <tag> [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(ROOT, "plans", "r07")


def bench_query_fns(spark):
    """The exact DataFrames bench.py times: the 9 headline entry queries,
    the production minhash path, the transcript rollups (over a small
    generated transcript table so plan shape matches), the rollup job's
    bucket pass, and the extras."""
    import datetime as dt

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.jobs import bucket_rollup
    from cesium_spark.operators.compress import compress_blocks
    from cesium_spark.operators.dedup import (
        duplicate_token_spans, lsh_dedup_clusters, minhash_lsh_pairs,
    )
    from cesium_spark.operators.analytics import series_health
    from cesium_spark.operators.drift import page_hinkley
    from cesium_spark.operators.kmeans import kmeans_assignments
    from cesium_spark.operators.longmem import hurst_rs
    from cesium_spark.operators.markov import markov_nll
    from cesium_spark.operators.rollup import rollup_kernel, rollup_sql
    from cesium_spark.operators.sessionize import session_concurrency
    from cesium_spark.operators.similarity import ivfpq_topk
    from cesium_spark.operators.survival import km_survival
    from cesium_spark.operators.text import repetition_stats

    qfns = entry.queries()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tr = generate_transcripts(spark, n_convs=20, seed=42, max_turns=50)
    feats = ["n_epochs", "mean", "std", "amplitude", "total_time",
             "cads_avg", "cads_med", "median", "median_absolute_deviation",
             "stetson_j", "stetson_k", "skew"]

    out = {}
    for name in ("features_wide", "rollup_1h_sql", "rollup_1d_kernel",
                 "locf_1h", "agg_merge", "knn_cosine", "text_stats",
                 "sessionize_30m", "features_periodic", "minhash_lsh"):
        out[name] = lambda n=name: qfns[n](spark, SF_DIR)
    out["minhash_lsh_xxhash64"] = lambda: minhash_lsh_pairs(docs, hash_fn="xxhash64")
    out["transcript_rollup_1h"] = lambda: rollup_kernel(tr, feats, "1h")
    # one run_rollup bucket pass: the first 7 days at every default tier,
    # sized for a bucket of 10**6 rows (one partition per core)
    week = [dt.datetime(2025, 1, 1) + dt.timedelta(days=i) for i in range(7)]
    out["rollup_bucket"] = lambda: bucket_rollup(tr, week, 10**6, ("1m", "1h", "1d"), feats)
    out["transcript_rollup_1h_sqlpath"] = lambda: rollup_sql(tr, "1h")
    out["gorilla_compress_1h"] = lambda: compress_blocks(tr, "1h", text_col="text")
    out["lsh_star_clusters"] = lambda: lsh_dedup_clusters(docs, hash_fn="xxhash64")
    out["dup_spans_xxhash64"] = lambda: duplicate_token_spans(docs, k=8, hash_fn="xxhash64")
    out["ivfpq_rerank"] = lambda: ivfpq_topk(emb, emb.limit(20), k=3, n_lists=16,
                                             n_probe=10, m=8, rerank=True)
    out["doc_repetition"] = lambda: repetition_stats(docs)
    out["kmeans"] = lambda: kmeans_assignments(emb, k=4, iters=2)
    out["markov_nll"] = lambda: markov_nll(events)
    out["km_survival"] = lambda: km_survival(events)
    out["session_concurrency"] = lambda: session_concurrency(
        events, gap_minutes=30, key_col="user_id", ts_col="ts",
        tiebreak_col="event_id")
    out["hurst_rs"] = lambda: hurst_rs(events)
    out["page_hinkley"] = lambda: page_hinkley(events)
    out["series_health"] = lambda: series_health(events)
    return out


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)

    from cesium_spark.session import get_spark

    spark = get_spark(app_name="plan-capture", master="local[4]",
                      shuffle_partitions=64)
    fns = bench_query_fns(spark)
    for name, fn in fns.items():
        if only and name not in only:
            continue
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {ex}"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
