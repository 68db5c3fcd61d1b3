"""Z-order (Morton-curve) data-layout clustering for Iceberg-style
table maintenance.

At 100 TB the dominant cost of the rollup/retention engine is the
scan, and the scan cost is set by LAYOUT: a table clustered only by
time serves time-range queries but full-scans per-conversation reads,
and vice versa. Sorting files by the bit-interleaved z-value of
(time bucket, key bucket) bounds BOTH query shapes — any time-range or
key-range predicate touches O(boundary) files instead of all of them
(the standard Iceberg/Delta `rewrite_data_files(strategy=>'sort',
sort_order=>'zorder(...)')` maintenance pass; Morton 1966).

Everything here is a pure JVM column expression (shiftright/and/
shiftleft fused by codegen — no UDF) so the z-key inlines into a
write's ORDER BY and any engine with integer bit ops replays it
bit-for-bit. Bucketing to b bits per dimension keeps the curve
resolution explicit: the z-cell IS the layout unit, so the cell report
(`zorder_cells`) is the file-size histogram the maintenance job reads
before choosing a rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_cells", "rewrite_zordered"]


def zorder_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints
    (x even positions, y odd) into a 2*bits-bit Morton key. Built as a
    sum of masked shifts — a closed-form integer expression, identical
    in Spark and any SQL engine with &, >>, <<."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(y.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


def zorder_cells(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    bits: int = 5,
    cell_shift: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Layout report for a z-ordered rewrite of an event/turn table:
    rows are bucketed on (hour index % 2^bits, key % 2^bits),
    z-interleaved, and grouped into cells of 2^cell_shift consecutive
    z-values (the file-granularity unit). Per cell: row count, distinct
    keys, the time span it covers, and its share of the table — the
    histogram a maintenance job inspects for skewed cells before
    rewriting, and the proof that both dimensions stay range-local
    under the curve (each cell touches <= 2^(cell_shift/2)-ish buckets
    of EACH dimension, never one full dimension).

    Map-only projection + ONE partial-aggregable groupBy onto at most
    2^(2*bits - cell_shift) cells; the share window runs on that
    cell-sized relation."""
    from pyspark.sql.window import Window

    m = 1 << bits
    hour = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(3_600_000_000)) % m
    key = F.col(key_col).cast("long") % m
    z = zorder_key(hour, key, bits)
    cell = F.shiftright(z, cell_shift)
    per = (
        df.select(
            cell.alias("z_cell"),
            F.col(key_col).alias("_k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        )
        .groupBy("z_cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("_k").alias("n_keys"),
            ((F.max("_us") - F.min("_us")) / F.lit(1e6)).alias("_span"),
        )
    )
    wt = Window.partitionBy()
    return per.select(
        "z_cell",
        "n",
        "n_keys",
        F.round(F.col("_span") + F.lit(1e-9), round_digits).alias("span_s"),
        F.round(F.col("n") / F.sum("n").over(wt) + F.lit(1e-9), round_digits)
        .alias("share"),
    )


def rewrite_zordered(
    table,
    spark,
    ts_col: str = "ts",
    key_col: str = "conv_id",
    bits: int = 8,
    n_files: int = 8,
):
    """Sort-rewrite a SnapshotTable by the Morton key of (hour, key):
    range-repartition on the z-key (each output file covers a DISJOINT
    z range) then sort within partitions, committed as a new snapshot
    through the table's manifest-first overwrite — the maintenance pass
    that turns a write-ordered table into one where both time-range and
    key-range scans touch O(boundary) files. Returns the new snapshot
    id. Rows are preserved exactly (the rewrite is a permutation; the
    caller's reader sees identical data at the new snapshot)."""
    m = 1 << bits
    df = table.read(spark)
    hour = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(3_600_000_000)
    ) % m
    key = F.abs(F.xxhash64(F.col(key_col))) % m
    z = zorder_key(hour, key, bits)
    ordered = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return table.overwrite(ordered)
