"""Snapshot table shim: Iceberg-like semantics on plain Parquet.

No Iceberg runtime jar ships in this sandbox (network off), so the engine
ships a thin table format providing the operations the rollup pipeline
needs — append, dynamic overwrite-by-partition, snapshot isolation, and
time travel — while keeping the calling code shaped so a real Iceberg
catalog can drop in (`CREATE TABLE ... USING iceberg` + MERGE INTO).

Layout:
  <root>/data/<snapshot_id>/<partition dirs or files>.parquet
  <root>/_snapshots.json      — ordered snapshot log; each snapshot lists
                                its live file-set (full manifest, not a
                                delta), so reads are one JSON lookup.

A manifest entry is a directory (a whole snapshot dir, or one leaf
partition dir) or a single data file. Writes add directory entries; only
`delete_files` lists files, and only for a directory that lost some of
its files, so a table no delete touched has directory entries alone. A
snapshot with no entry left records the table schema instead, and reads
as an empty table.

Writers are atomic: data lands under a new snapshot dir first, then the
manifest is atomically replaced (tmp+rename). A crash before the manifest
swap leaves the table at the previous snapshot (orphan data dirs are
harmless and collectable).
"""

from __future__ import annotations

import contextlib
import functools
import json
import operator
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def local_path(uri: str) -> str:
    """Local path of a ``file:`` URI as ``input_file_name()`` returns it
    (URL-encoded: a space reads ``%20``); plain paths pass through."""
    u = urlparse(uri)
    return unquote(u.path) if u.scheme == "file" else uri


def _data_files(directory: str) -> list[str]:
    """The files Spark reads in a leaf directory: hidden (``.``) and
    metadata (``_``) files are skipped."""
    return sorted(
        os.path.join(directory, f) for f in os.listdir(directory)
        if not f.startswith(("_", "."))
    )


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------ manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def _load_log(self) -> list[dict]:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return []

    @property
    def _data_root(self) -> str:
        return os.path.join(self.root, "data")

    def _append_snapshot(self, paths: list[str], operation: str, parent: list[dict],
                         schema: dict | None = None):
        log = parent
        snap = {
            "snapshot_id": uuid.uuid4().hex[:16],
            # monotonic even after expire_snapshots truncates the log
            "sequence": (log[-1]["sequence"] + 1) if log else 0,
            "timestamp": time.time(),
            "operation": operation,
            "paths": sorted(paths),
        }
        if schema is not None:
            snap["schema"] = schema
        log = log + [snap]
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)
        return snap["snapshot_id"]

    def snapshots(self) -> list[dict]:
        return self._load_log()

    def current_snapshot_id(self) -> str | None:
        log = self._load_log()
        return log[-1]["snapshot_id"] if log else None

    # ------------------------------------------------------------- write

    def _partition_suffix(self, p: str) -> str:
        """Partition identity of a manifest entry: the path of its leaf
        directory below the snapshot dir (``"."`` when unpartitioned);
        a file entry takes its parent directory's."""
        if os.path.isfile(p):
            p = os.path.dirname(p)
        parts = os.path.relpath(p, self._data_root).split(os.sep)
        return os.sep.join(parts[1:]) or "."

    def _write_data(self, df: DataFrame, partition_by: list[str] | None) -> list[str]:
        sid_dir = uuid.uuid4().hex[:16]
        dest = os.path.join(self._data_root, sid_dir)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)
        if partition_by:
            # one logical path per leaf partition directory
            paths = []
            for dirpath, _dirs, files in os.walk(dest):
                if any(f.endswith(".parquet") for f in files):
                    paths.append(dirpath)
            return paths
        return [dest]

    def _commit(self, paths: list[str], operation: str, parent: list[dict],
                df: DataFrame, partition_by: list[str] | None) -> str:
        """Commit a write of `df`. A write that leaves the snapshot with
        no entry (a partitioned write of no rows lands no file) records
        `df`'s schema, partition columns last as a read returns them."""
        schema = None
        if not paths:
            parts = list(partition_by or ())
            schema = StructType(
                [f for f in df.schema if f.name not in parts] + [df.schema[c] for c in parts]
            ).jsonValue()
        return self._append_snapshot(paths, operation, parent, schema)

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        log = self._load_log()
        prev = log[-1]["paths"] if log else []
        new_paths = self._write_data(df, partition_by)
        return self._commit(prev + new_paths, "append", log, df, partition_by)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        log = self._load_log()
        new_paths = self._write_data(df, partition_by)
        return self._commit(new_paths, "overwrite", log, df, partition_by)

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_by: list[str],
        also_replace: set[str] | None = None,
    ) -> str:
        """Dynamic partition overwrite: replaces only the partitions
        present in `df`, keeps all others — Iceberg's
        `overwritePartitions()` semantics.

        `also_replace` names extra partition-dir suffixes (e.g.
        ``{"bucket=13"}``) to drop even when `df` writes no rows for
        them — the delete-partition case a pure dynamic overwrite cannot
        express (an updated partition whose new content is EMPTY would
        otherwise silently keep its stale rows)."""
        log = self._load_log()
        prev = log[-1]["paths"] if log else []
        new_paths = self._write_data(df, partition_by)
        replaced = {self._partition_suffix(p) for p in new_paths} | set(also_replace or ())
        kept = [p for p in prev if self._partition_suffix(p) not in replaced]
        return self._commit(kept + new_paths, "overwrite_partitions", log, df, partition_by)

    # ------------------------------------------------------- maintenance

    def delete_files(
        self,
        spark: SparkSession,
        remove: Sequence[str],
        rewrite: Sequence[str] = (),
        keep: Column | None = None,
    ) -> str:
        """File-granular delete — Iceberg's ``DeleteFiles`` plus a
        copy-on-write ``RewriteFiles`` for the files a delete only
        partly covers. Every file in `remove` leaves the manifest with
        no data I/O. Each file in `rewrite` is replaced by its rows
        that satisfy `keep`, written in the table's partition layout.
        Every other file is carried as-is, so a directory entry stays
        one entry unless some file under it goes. Paths are local file
        paths (see `local_path`); older snapshots keep referencing the
        removed files, so time travel still reads them until
        `expire_snapshots`."""
        log = self._load_log()
        gone = {os.path.abspath(f) for f in (*remove, *rewrite)}
        holders = {os.path.dirname(f) for f in gone}
        paths = []
        for p in log[-1]["paths"]:
            ap = os.path.abspath(p)
            if ap in holders:
                # a directory that lost some files: list the survivors
                paths += [f for f in _data_files(p) if os.path.abspath(f) not in gone]
            elif ap not in gone:
                paths.append(p)
        if rewrite:
            suffix = self._partition_suffix(rewrite[0])
            partition_by = [] if suffix == "." else [
                seg.split("=", 1)[0] for seg in suffix.split(os.sep)]
            kept = self._read_paths(spark, list(rewrite)).filter(keep)
            paths += self._write_data(kept, partition_by)
        schema = None if paths else self.read(spark).schema.jsonValue()
        return self._append_snapshot(paths, "delete", log, schema)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Iceberg's `expire_snapshots`: drop all but the last
        ``keep_last`` log entries and delete data files no kept
        snapshot references. Returns the deleted paths. Ordering is
        crash-safe: the truncated manifest lands atomically FIRST, so
        an interruption leaves only harmless orphan files (never a
        manifest pointing at deleted data). An expired directory that
        still holds a file a kept snapshot lists loses only its other
        files."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        log = self._load_log()
        if len(log) <= keep_last:
            return []
        kept = log[-keep_last:]
        referenced: set[str] = set()
        for s in kept:
            referenced.update(s["paths"])
        holders = {os.path.dirname(p) for p in referenced}
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(kept, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)

        deleted = []
        for s in log[: len(log) - keep_last]:
            for p in s["paths"]:
                # entries nest only as a file under its leaf directory
                if (p in referenced or os.path.dirname(p) in referenced
                        or not os.path.exists(p)):
                    continue
                doomed = (
                    [f for f in _data_files(p) if f not in referenced]
                    if p in holders else [p]
                )
                for q in doomed:
                    if os.path.isdir(q):
                        shutil.rmtree(q, ignore_errors=True)
                    else:  # the data file and its checksum sidecar
                        for f in (q, os.path.join(os.path.dirname(q),
                                                  f".{os.path.basename(q)}.crc")):
                            with contextlib.suppress(OSError):
                                os.remove(f)
                    referenced.add(q)  # don't retry shared paths
                    # removal swallows errors: report only what's GONE —
                    # a survivor is an unreferenced orphan (harmless),
                    # not reclaimed storage
                    if not os.path.exists(q):
                        deleted.append(q)
        return sorted(set(deleted))

    def merge_rows(
        self,
        spark: SparkSession,
        df: DataFrame,
        retire: Sequence[DataFrame],
        partition_by: list[str] | None = None,
    ) -> str:
        """Upsert — Iceberg's ``MERGE INTO ... WHEN MATCHED THEN DELETE``
        plus an insert of `df`, as one copy-on-write snapshot. A current
        row is retired when it matches some frame of `retire` on all of
        that frame's columns, whatever partition it sits in; then every
        row of `df` is added. An empty table takes `df` as an append.

        With ``partition_by`` the rewrite is PARTITION-SCOPED: one
        bounded collect finds the partitions `df` lands in and the data
        files that hold a retired row; only those partitions are read
        back (pruned on their values), stripped of retired rows and
        rewritten with `df`. A partition whose rows are all retired
        leaves the manifest; every other partition's files are carried
        into the new snapshot as-is, so rewrite cost tracks the touched
        data, not the table. Without it the whole table is rewritten."""
        log = self._load_log()
        if not (log and log[-1]["paths"]):
            return self.append(df, partition_by)

        def upserted(rows: DataFrame) -> DataFrame:
            for r in retire:
                rows = rows.join(r, r.columns, "left_anti")
            return rows.unionByName(df)

        current = self.read(spark)
        if not partition_by:
            return self.overwrite(upserted(current))
        marked = current.withColumn("_merge_file", F.input_file_name())
        hits = df.select(*partition_by, F.lit(None).cast("string").alias("_merge_file"))
        for r in retire:
            hits = hits.unionByName(
                marked.join(r, r.columns, "left_semi").select(*partition_by, "_merge_file"))
        touched = hits.distinct().collect()
        in_scope = F.lit(False)
        for part in {tuple(row[:-1]) for row in touched}:
            in_scope |= functools.reduce(operator.and_, (
                F.col(c).eqNullSafe(v) for c, v in zip(partition_by, part)))
        # a partition that only lost rows writes nothing: name it too
        holders = {self._partition_suffix(local_path(row[-1]))
                   for row in touched if row[-1] is not None}
        return self.overwrite_partitions(
            upserted(current.filter(in_scope)), partition_by, also_replace=holders)

    # -------------------------------------------------------------- read

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame:
        """Current table state, or time travel to snapshot id `as_of`."""
        log = self._load_log()
        if not log:
            raise FileNotFoundError(f"empty table at {self.root}")
        snap = log[-1]
        if as_of is not None:
            matches = [s for s in log if s["snapshot_id"] == as_of]
            if not matches:
                raise KeyError(f"unknown snapshot {as_of}")
            snap = matches[0]
        if not snap["paths"]:
            if "schema" in snap:
                return spark.createDataFrame([], StructType.fromJson(snap["schema"]))
            raise FileNotFoundError("snapshot has no data files")
        return self._read_paths(spark, snap["paths"])

    def _read_paths(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        # group paths by their snapshot dir so partition-column discovery
        # gets a consistent basePath per group, then union
        groups: dict[str, list[str]] = {}
        for p in paths:
            sid = os.path.relpath(p, self._data_root).split(os.sep)[0]
            groups.setdefault(os.path.join(self._data_root, sid), []).append(p)
        dfs = [
            spark.read.option("basePath", base).parquet(*group)
            for base, group in sorted(groups.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
