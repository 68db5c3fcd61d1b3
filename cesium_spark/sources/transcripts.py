"""Readers/normalizers for the engine's inputs.

- read_transcripts: parquet/snapshot-table scan of the canonical
  (conv_id, turn_idx, role, text, tool, ts) schema with optional tier
  horizon pushdown (ts-range filters reach the parquet scan).
- read_ts_csv: the reference's CSV time-series format (parse_ts_data,
  /root/reference/cesium/data_management.py:14-58): rows of t[,m[,e]];
  missing error column filled with cesium's DEFAULT_ERROR_VALUE, missing
  measurement handled like the reference (single column = measurements at
  implicit uniform times is NOT supported there either — two-column data
  is (t, m)).
- normalize: enforce schema/types + the engine's stable ordering columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..kernel import DEFAULT_ERROR_VALUE
from ..time_series import DEFAULT_MAX_TIME

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_transcripts(
    spark: SparkSession,
    path: str,
    horizon: tuple[str, str] | None = None,
) -> DataFrame:
    df = spark.read.parquet(path)
    if horizon is not None:
        df = df.filter(F.col("ts").between(*horizon))  # pushed to the scan
    return df


def read_ts_csv(spark: SparkSession, path: str, sep: str = ",") -> DataFrame:
    """Reference-format series CSV -> (idx, t, m, e) DataFrame with the
    default-error fill."""
    raw = spark.read.csv(path, sep=sep, inferSchema=True)
    cols = raw.columns
    if len(cols) >= 3:
        df = raw.select(
            F.col(cols[0]).cast("double").alias("t"),
            F.col(cols[1]).cast("double").alias("m"),
            F.coalesce(F.col(cols[2]).cast("double"),
                       F.lit(DEFAULT_ERROR_VALUE)).alias("e"),
        )
    elif len(cols) == 2:
        df = raw.select(
            F.col(cols[0]).cast("double").alias("t"),
            F.col(cols[1]).cast("double").alias("m"),
            F.lit(DEFAULT_ERROR_VALUE).alias("e"),
        )
    elif len(cols) == 1:
        # measurement-only file: evenly spaced default times over
        # [0, DEFAULT_MAX_TIME] in FILE order (reference
        # data_management.py:48-53), constant default error
        n = raw.count()
        ordered = raw.select(
            F.col(cols[0]).cast("double").alias("m"),
            (F.row_number().over(
                Window.orderBy(F.monotonically_increasing_id())) - 1
             ).alias("idx"),
        )
        step = DEFAULT_MAX_TIME / (n - 1) if n > 1 else 0.0
        return ordered.select(
            (F.col("idx") * F.lit(step)).alias("t"),
            "m",
            F.lit(DEFAULT_ERROR_VALUE).alias("e"),
            "idx",
        )
    else:
        raise ValueError("expected 1-3 CSV columns ([t,] m [, e])")
    return df.withColumn("idx", F.row_number().over(Window.orderBy("t")) - 1)


def featurize_csv_series(
    spark: SparkSession,
    paths: dict[str, str],
    features,
    **kwargs,
) -> DataFrame:
    """cesium's featurize_ts_files equivalent: {series_name: csv_path} ->
    one featureset row per series (reference featurize.py:293-361 —
    per-path load + per-series featurization + assembly; here each file
    becomes one group of a union DataFrame and the kernel runs once)."""
    from pyspark.sql import functions as F

    from ..kernel import featurize

    parts = []
    for name, path in sorted(paths.items()):
        df = read_ts_csv(spark, path).withColumn("series", F.lit(name))
        parts.append(df)
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    return featurize(
        allrows, features,
        key_col="series", tiebreak_col="idx",
        t="t", m="m", e="e", ts_col="t",
        **kwargs,
    )


def shorten_fname(file_path: str) -> str:
    """Basename without directories or the final extension — the series
    name key the reference uses to join header rows onto series files
    (/root/reference/cesium/util.py:13-27)."""
    import os

    return os.path.splitext(os.path.basename(str(file_path)))[0]


def read_headerfile(
    spark: SparkSession,
    path: str,
    files_to_include: list[str] | None = None,
) -> DataFrame:
    """Parse a cesium header file (labels/targets + meta-features CSV,
    reference parse_headerfile at
    /root/reference/cesium/data_management.py:61-111) into a DataFrame
    (name, label, <meta feature columns...>).

    - ``filename`` column values are shortened to extension-less basenames
      and become ``name`` (the key to join onto a featureset's series);
    - any of label/target/class/class_label normalizes to ``label``
      (NULL when the header has no label column);
    - every other column passes through as a meta feature;
    - ``files_to_include`` subsets by (shortened) name and raises
      ValueError when a requested series is missing, as the reference does;
    - ragged/malformed rows raise ValueError (reference parity). The
      malformed-row probe materializes the frame once; header files are
      per-series dimension tables (one row per series), orders of
      magnitude smaller than the point data they describe, and the result
      is meant to be broadcast anyway.
    """
    try:
        df = spark.read.csv(
            path, header=True, comment="#", inferSchema=True, mode="FAILFAST"
        )
        ncols = len(df.columns)
        df = df.cache()
        n_rows = df.count()  # FAILFAST surfaces ragged rows here
    except Exception as exc:  # noqa: BLE001 — reference raises ValueError
        raise ValueError("Improperly formatted header file.") from exc
    if ncols == 0:
        raise ValueError("Improperly formatted header file.")

    cols = list(df.columns)
    if "filename" in cols:
        base = F.element_at(F.split(F.col("filename").cast("string"), "/"), -1)
        df = df.withColumn(
            "name", F.regexp_replace(base, "\\.[^.]*$", "")
        ).drop("filename")
    else:
        # no filename column: positional index like the reference's
        # RangeIndex (header files are single CSVs, file order preserved)
        df = df.withColumn(
            "name",
            (F.row_number().over(Window.orderBy(F.monotonically_increasing_id())) - 1)
            .cast("string"),
        )
    label_src = next(
        (c for c in ("label", "target", "class", "class_label") if c in df.columns),
        None,
    )
    if label_src is not None:
        df = df.withColumnRenamed(label_src, "label")
    else:
        df = df.withColumn("label", F.lit(None).cast("string"))
    meta_cols = [
        c for c in df.columns if c not in ("name", "label", "class")
    ]
    out = df.select("name", "label", *meta_cols)

    if files_to_include:
        wanted = [shorten_fname(f) for f in files_to_include]
        out = out.filter(F.col("name").isin(wanted))
        if out.count() != len(set(wanted)):
            raise ValueError(
                "Incomplete header file: make sure your header contains "
                "an entry for each time series file, and that the file "
                "names match the filename column."
            )
    return out
