"""Snapshot-table shim (append / dynamic overwrite / time travel) and the
reference-format CSV reader."""

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.sources.table import SnapshotTable
from cesium_spark.sources.transcripts import read_ts_csv


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "part", "v"])
    )


def test_snapshot_table_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    s2 = t.append(_df(spark, [(3, "a", 3.0)]))
    cur = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur["k"]) == [1, 2, 3]
    old = t.read(spark, as_of=s1).toPandas()
    assert sorted(old["k"]) == [1, 2]
    assert t.current_snapshot_id() == s2
    assert [s["operation"] for s in t.snapshots()] == ["append", "append"]


def test_snapshot_table_overwrite_partitions(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0)]),
             partition_by=["part"])
    # replace only partition b
    t.overwrite_partitions(_df(spark, [(9, "b", 9.0)]), partition_by=["part"])
    cur = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur["k"]) == [1, 9]
    assert set(cur["part"]) == {"a", "b"}


def test_snapshot_table_expire_and_merge(spark, tmp_path):
    """The Iceberg maintenance surface: expire_snapshots truncates the
    log and GCs only unreferenced files (manifest lands first -> crash
    leaves orphans, never dangling refs); merge_rows is a
    partition-scoped copy-on-write upsert that carries untouched
    partitions' files into the new snapshot byte-identically."""
    import os
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
                  partition_by=["part"])
    t.overwrite_partitions(_df(spark, [(9, "b", 9.0)]), partition_by=["part"])

    # merge (upsert): update k=1's value, insert k=5 into partition b;
    # partition a is touched (k=1), but suppose only its keys change —
    # partition c untouched entirely
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (7, "c", 7.0)]),
                partition_by=["part"])
    paths_before = {p for p in t.snapshots()[-1]["paths"] if "part=c" in p}
    up = _df(spark, [(1, "a", 111.0), (5, "b", 5.0)])
    t.merge_rows(spark, up, retire=[up.select("k")], partition_by=["part"])
    cur = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur["k"]) == [1, 2, 5, 7]
    assert cur.loc[0, "v"] == 111.0
    paths_after = {p for p in t.snapshots()[-1]["paths"] if "part=c" in p}
    assert paths_after == paths_before  # untouched partition: same files

    # expire: keep the last snapshot only; files of expired-only
    # snapshots are gone, current read still works, sequence monotonic
    seq_before = t.snapshots()[-1]["sequence"]
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted and all(not os.path.exists(p) for p in deleted)
    assert len(t.snapshots()) == 1
    cur2 = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur2["k"]) == [1, 2, 5, 7]
    s_new = t.append(_df(spark, [(8, "d", 8.0)]), partition_by=["part"])
    assert t.snapshots()[-1]["sequence"] == seq_before + 1
    # expired snapshot ids are gone from time travel
    import pytest as _pytest
    with _pytest.raises(KeyError):
        t.read(spark, as_of=s1)


def test_snapshot_table_merge_unpartitioned_and_empty(spark, tmp_path):
    """merge_rows on an empty table degrades to append; unpartitioned
    merge rewrites the whole table (documented CoW cost)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    first = _df(spark, [(1, "a", 1.0)])
    t.merge_rows(spark, first, retire=[first.select("k")])
    assert t.read(spark).toPandas()["k"].tolist() == [1]
    up = _df(spark, [(1, "a", 2.0), (2, "b", 2.0)])
    t.merge_rows(spark, up, retire=[up.select("k")])
    cur = t.read(spark).toPandas().sort_values("k")
    assert list(cur["k"]) == [1, 2] and cur.iloc[0]["v"] == 2.0


def test_merge_rows_moved_key_drops_stale_row_and_emptied_partition(spark, tmp_path):
    """A retired key whose new row lands in another partition: the stale
    copy goes, and the partition it leaves empty drops out of the
    manifest; an untouched partition keeps its files."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
             partition_by=["part"])
    kept_c = {p for p in t.snapshots()[-1]["paths"] if "part=c" in p}
    moved = _df(spark, [(1, "b", 10.0)])
    t.merge_rows(spark, moved, retire=[moved.select("k")], partition_by=["part"])
    cur = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert list(zip(cur["k"], cur["part"], cur["v"])) == [
        (1, "b", 10.0), (2, "b", 2.0), (3, "c", 3.0)]
    paths = t.snapshots()[-1]["paths"]
    assert not [p for p in paths if "part=a" in p]
    assert {p for p in paths if "part=c" in p} == kept_c


def test_empty_partitioned_writes_read_back_empty(spark, tmp_path):
    """A partitioned write of no rows lands no data file. Through append
    and through merge_rows' bootstrap of a new table, the snapshot keeps
    the written schema, partition column last as a non-empty read has it,
    and reads as an empty table."""
    empty = spark.createDataFrame([], "k long, part string, v double")
    t = SnapshotTable(str(tmp_path / "appended"))
    t.append(empty, partition_by=["part"])
    u = SnapshotTable(str(tmp_path / "merged"))
    u.merge_rows(spark, empty, retire=[empty.select("k")], partition_by=["part"])
    for tbl in (t, u):
        got = tbl.read(spark)
        assert got.dtypes == [("k", "bigint"), ("v", "double"), ("part", "string")]
        assert got.count() == 0

    t.append(_df(spark, [(1, "a", 1.0)]), partition_by=["part"])
    assert "schema" not in t.snapshots()[-1]
    assert t.read(spark).columns == ["k", "v", "part"]


def _file_per_group(spark, groups):
    """One written data file per group of rows."""
    rows = [(*r, g) for g, grp in enumerate(groups) for r in grp]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "part", "v", "_g"]))
    return df.repartitionByRange(len(groups), "_g").drop("_g")


def _live_files(t, part=""):
    return sorted(glob.glob(os.path.join(t.root, "data", "*", part, "*.parquet")))


def test_delete_files_then_expire_keeps_live_files(spark, tmp_path):
    """expire_snapshots after a file-level delete: the expired snapshot
    lists the whole directory, the live one two of its files. Only the
    deleted file goes from disk; the directory and the read survive."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    s0 = t.append(_file_per_group(
        spark, [[(1, "a", 1.0)], [(2, "a", 2.0)], [(3, "a", 3.0)]]))
    doomed, *live = _live_files(t)
    t.delete_files(spark, [doomed])
    assert t.snapshots()[-1]["paths"] == live
    assert t.read(spark, as_of=s0).count() == 3
    before = sorted(t.read(spark).toPandas()["k"])
    assert before == [2, 3]

    assert t.expire_snapshots(keep_last=1) == [doomed]
    assert _live_files(t) == live
    assert sorted(t.read(spark).toPandas()["k"]) == before


def test_overwrite_partitions_after_file_delete_leaves_no_stale_rows(spark, tmp_path):
    """A file entry's partition is its parent directory: overwriting
    partition a replaces the file entries the delete left there."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_file_per_group(
        spark, [[(1, "a", 1.0)], [(2, "a", 2.0)], [(3, "b", 3.0)]]),
        partition_by=["part"])
    doomed, kept_a = _live_files(t, "part=a")
    t.delete_files(spark, [doomed])
    assert kept_a in t.snapshots()[-1]["paths"]
    assert sorted(t.read(spark).toPandas()["k"]) == [2, 3]

    t.overwrite_partitions(_df(spark, [(9, "a", 9.0)]), partition_by=["part"])
    cur = t.read(spark).toPandas().sort_values("k")
    assert list(cur["k"]) == [3, 9] and list(cur["part"]) == ["b", "a"]


def test_read_ts_csv_matches_reference_parse(spark, tmp_path):
    # 3-column (t,m,e) and default-error fill on 2-column
    p3 = tmp_path / "s3.csv"
    p3.write_text("1.0,10.0,0.1\n0.5,9.0,0.2\n")
    df = read_ts_csv(spark, str(p3)).toPandas().sort_values("idx")
    assert list(df["t"]) == [0.5, 1.0]  # idx assigned in time order
    assert list(df["e"]) == [0.2, 0.1]
    p2 = tmp_path / "s2.csv"
    p2.write_text("1.0,10.0\n2.0,11.0\n")
    df2 = read_ts_csv(spark, str(p2)).toPandas()
    assert (df2["e"] == 1e-4).all()


def test_featurize_csv_series_matches_golden(spark):
    """cesium featurize_ts_files equivalent: golden .dat files through the
    CSV-reader + Spark kernel reproduce expected_features.csv values."""
    import os
    import numpy as np
    from cesium_spark.sources.transcripts import featurize_csv_series

    d = os.path.join(os.path.dirname(__file__), "data")
    paths = {n: os.path.join(d, f"{n}.dat") for n in ("257141", "245486", "247327")}
    feats = ["amplitude", "std", "median", "stetson_j", "skew", "shapiro_wilk"]
    got = featurize_csv_series(spark, paths, feats).toPandas().set_index("series")

    names = open(os.path.join(d, "expected_features.csv")).readline().strip().split(",")
    exp = np.loadtxt(os.path.join(d, "expected_features.csv"), delimiter=",", skiprows=1)
    for row, name in enumerate(("257141", "245486", "247327")):
        for f in feats:
            np.testing.assert_allclose(
                got.loc[name, f], exp[row, names.index(f)], atol=1.5e-6,
                err_msg=f"{name}.{f}",
            )


def test_read_headerfile_reference_parity(spark, tmp_path):
    """Port of the reference's headerfile cases
    (/root/reference/cesium/tests/test_data_management.py:41-70) against
    the vendored asas_training_subset header."""
    import os
    import pytest
    from cesium_spark.sources.transcripts import read_headerfile

    path = os.path.join(
        os.path.dirname(__file__), "data",
        "asas_training_subset_classes_with_metadata.dat")

    hdr = read_headerfile(spark, path).toPandas().set_index("name")
    assert list(hdr.columns) == ["label", "meta1", "meta2", "meta3"]
    assert hdr.loc["217801", "label"] == "Mira"
    assert abs(hdr.loc["224635", "meta1"] - 0.330610932539) < 1e-12

    # files_to_include subsets (and shortens paths/extensions)
    sub = read_headerfile(
        spark, path, files_to_include=["some/dir/217801.dat"]
    ).toPandas()
    assert list(sub["name"]) == ["217801"]
    assert list(sub["label"]) == ["Mira"]

    # missing requested series -> ValueError (reference parity)
    with pytest.raises(ValueError, match="Incomplete header"):
        read_headerfile(spark, path, files_to_include=["111111111"])

    # ragged rows -> ValueError (reference parity)
    bad = tmp_path / "bad.csv"
    bad.write_text("test\n1,2\n3,4,5\n")
    with pytest.raises(ValueError, match="Improperly formatted"):
        read_headerfile(spark, str(bad))


def test_headerfile_meta_join_onto_featureset(spark, tmp_path):
    """read_headerfile output joins onto a featureset: labels + meta
    columns land on it via a broadcast join on the series name (the
    reference's meta_features path, featurize.py:136-141)."""
    from cesium_spark.kernel import featurize
    from cesium_spark.sources.transcripts import read_headerfile
    from cesium_spark.datagen import generate_transcripts

    hdrfile = tmp_path / "hdr.csv"
    hdrfile.write_text(
        "filename,target,meta1\nconv-0.dat,A,0.5\nconv-1.dat,B,0.25\n")
    hdr = read_headerfile(spark, str(hdrfile)).withColumnRenamed("name", "conv_id")

    df = generate_transcripts(spark, n_convs=2, seed=1)
    fs = featurize(df, ["n_epochs", "mean"])
    joined = fs.join(F.broadcast(hdr), "conv_id", "left").toPandas()
    joined = joined.set_index("conv_id")
    assert joined.loc["conv-0", "label"] == "A"
    assert joined.loc["conv-1", "meta1"] == 0.25


def test_featureset_npz_roundtrip(spark, tmp_path):
    """cesium .npz interchange (reference featurize.py:417-497): a
    Spark featureset written with save_featureset_npz loads back through
    the reference's documented container layout (record array 'features'
    transposed with (feature, channel) index fields, no pickling) and
    back into Spark with values intact."""
    import numpy as np
    from cesium_spark.datagen import generate_transcripts
    from cesium_spark.kernel import featurize
    from cesium_spark.sources.featureset_io import (
        featureset_from_npz,
        load_featureset_npz,
        save_featureset_npz,
    )

    df = generate_transcripts(spark, n_convs=4, seed=5)
    feats = ["n_epochs", "mean", "std"]
    fs = featurize(df, feats)
    path = str(tmp_path / "fset.npz")
    save_featureset_npz(fs, path, labels=["a", "b", "a", "b"])

    pdf, extras = load_featureset_npz(path)
    assert list(pdf.columns.get_level_values("feature")) == feats
    assert list(extras["labels"]) == ["a", "b", "a", "b"]

    orig = fs.toPandas().set_index("conv_id").sort_index()
    back = featureset_from_npz(spark, path).toPandas().set_index("conv_id").sort_index()
    assert list(back.columns) == feats
    np.testing.assert_allclose(back.to_numpy(float), orig.to_numpy(float), rtol=1e-12)


def test_ts_npz_reference_format_roundtrip(spark, tmp_path):
    """cesium TimeSeries.save() files featurize directly: write the
    reference's exact npz layout (time/measurement/error + name/label +
    meta arrays), read with read_ts_npz, featurize via the kernel, and
    match the driver-side single-ts evaluation."""
    import numpy as np
    from cesium_spark.api import featurize_single_ts
    from cesium_spark.sources.featureset_io import (
        featurize_npz_files, read_ts_npz)

    rng = np.random.RandomState(8)
    paths = []
    singles = {}
    for name in ("s1", "s2"):
        t = np.sort(rng.uniform(0, 10, 50))
        m = rng.normal(5, 1, 50)
        e = rng.exponential(0.1, 50)
        p = str(tmp_path / f"{name}.npz")
        np.savez(p, time=t, measurement=m, error=e,
                 meta_feat_names=["z"], meta_feat_values=[1.5],
                 name=name, label="classA")
        paths.append(p)
        singles[name] = featurize_single_ts(
            t, m, e, features_to_use=["mean", "std", "amplitude"])

    ts = read_ts_npz(paths[0])
    assert ts["name"] == "s1" and ts["label"] == "classA"
    assert ts["meta_features"] == {"z": 1.5}

    fset = featurize_npz_files(
        spark, paths, features_to_use=["mean", "std", "amplitude"])
    assert sorted(fset.index) == ["s1", "s2"]
    for name in ("s1", "s2"):
        for f in ("mean", "std", "amplitude"):
            np.testing.assert_allclose(
                fset.loc[name, f], singles[name][f], rtol=1e-12)


def test_ts_npz_without_error_arrays_uses_default_fill(spark, tmp_path):
    """ADVICE r2: a TimeSeries .npz with no error arrays must featurize
    with cesium's DEFAULT_ERROR_VALUE fill (the reference's behavior),
    not crash on a (1, 0) error array."""
    import numpy as np
    from cesium_spark.api import featurize_single_ts
    from cesium_spark.sources.featureset_io import featurize_npz_files

    rng = np.random.RandomState(11)
    t = np.sort(rng.uniform(0, 10, 40))
    m = rng.normal(5, 1, 40)
    p = str(tmp_path / "noerr.npz")
    np.savez(p, time=t, measurement=m, name="ne1")

    fset = featurize_npz_files(
        spark, [p], features_to_use=["mean", "std", "weighted_average"])
    want = featurize_single_ts(
        t, m, None, features_to_use=["mean", "std", "weighted_average"])
    for f in ("mean", "std", "weighted_average"):
        np.testing.assert_allclose(fset.loc["ne1", f], want[f], rtol=1e-12)


def test_extract_time_series_tar_zip_and_passthrough(tmp_path):
    """Reference extract_time_series semantics (util.py:52-116): tar and
    zip expand to member paths (hidden/absolute members skipped,
    directories dropped), non-archives pass through, cleanup flags delete
    what they claim to."""
    import tarfile
    import zipfile
    from cesium_spark.sources.archive import extract_time_series, remove_files

    d1 = tmp_path / "series1.dat"
    d2 = tmp_path / "series2.dat"
    d1.write_text("0.0,1.0\n1.0,2.0\n")
    d2.write_text("0.0,3.0\n1.0,4.0\n")
    hidden = tmp_path / ".hidden.dat"
    hidden.write_text("0,0\n")

    tar_p = str(tmp_path / "arch.tar.gz")
    with tarfile.open(tar_p, "w:gz") as tf:
        for p in (d1, d2, hidden):
            tf.add(str(p), arcname=p.name)
    with extract_time_series(tar_p, cleanup_archive=False) as paths:
        names = sorted(os.path.basename(p) for p in paths)
        assert names == ["series1.dat", "series2.dat"]  # hidden skipped
        assert all(os.path.exists(p) for p in paths)
    assert os.path.exists(tar_p)

    zip_p = str(tmp_path / "arch.zip")
    with zipfile.ZipFile(zip_p, "w") as zf:
        zf.write(str(d1), arcname="series1.dat")
    with extract_time_series(zip_p, cleanup_files=True) as paths:
        assert len(paths) == 1 and os.path.exists(paths[0])
        kept = paths[0]
    assert not os.path.exists(kept)      # cleanup_files
    assert not os.path.exists(zip_p)     # cleanup_archive default True

    # non-archive passes through untouched
    with extract_time_series(str(d1), cleanup_archive=True) as paths:
        assert paths == [str(d1)]
    assert os.path.exists(str(d1))  # passthrough never deletes the input

    # remove_files: str, list, and missing-file tolerance (util.py:29-48)
    f = tmp_path / "rm.me"
    f.write_text("x")
    remove_files(str(f))
    assert not f.exists()
    remove_files([str(f)])  # already gone: no raise


def test_featurize_archive_csv_and_npz(spark, tmp_path):
    """featurize_archive: a tar of .dat series featurizes to the same
    values as the direct per-file path; an archive of TimeSeries .npz
    routes through the npz reader; mixed formats raise."""
    import tarfile
    import zipfile
    import numpy as np
    from cesium_spark.api import featurize_single_ts
    from cesium_spark.sources.archive import featurize_archive

    rng = np.random.RandomState(13)
    singles = {}
    for name in ("arc_a", "arc_b"):
        t = np.sort(rng.uniform(0, 10, 30))
        m = rng.normal(5, 1, 30)
        pd.DataFrame({"t": t, "m": m}).to_csv(
            tmp_path / f"{name}.dat", index=False, header=False)
        singles[name] = featurize_single_ts(
            t, m, None, features_to_use=["mean", "amplitude"])
    tar_p = str(tmp_path / "series.tar")
    with tarfile.open(tar_p, "w") as tf:
        for name in ("arc_a", "arc_b"):
            tf.add(str(tmp_path / f"{name}.dat"), arcname=f"{name}.dat")

    fset = featurize_archive(spark, tar_p, ["mean", "amplitude"])
    assert list(fset.index) == ["arc_a", "arc_b"]
    for name in ("arc_a", "arc_b"):
        for f in ("mean", "amplitude"):
            np.testing.assert_allclose(
                fset.loc[name, f], singles[name][f], rtol=1e-12)

    # npz archive
    t = np.sort(rng.uniform(0, 10, 25))
    m = rng.normal(2, 1, 25)
    npz_p = str(tmp_path / "one.npz")
    np.savez(npz_p, time=t, measurement=m, name="zser")
    zip_p = str(tmp_path / "series_npz.zip")
    with zipfile.ZipFile(zip_p, "w") as zf:
        zf.write(npz_p, arcname="one.npz")
    fset2 = featurize_archive(spark, zip_p, ["mean"])
    want = featurize_single_ts(t, m, None, features_to_use=["mean"])
    np.testing.assert_allclose(fset2.loc["zser", "mean"], want["mean"], rtol=1e-12)

    # mixed formats raise
    mixed_p = str(tmp_path / "mixed.zip")
    with zipfile.ZipFile(mixed_p, "w") as zf:
        zf.write(npz_p, arcname="one.npz")
        zf.write(str(tmp_path / "arc_a.dat"), arcname="arc_a.dat")
    with pytest.raises(ValueError, match="mixes"):
        featurize_archive(spark, mixed_p, ["mean"])


def test_featurize_archive_single_file_passthrough_keeps_input(spark, tmp_path):
    """Review finding: the single-file passthrough path yielded the INPUT
    path into the temp-cleanup list — featurizing a bare .dat deleted the
    user's file. The input must survive."""
    import numpy as np
    from cesium_spark.sources.archive import featurize_archive

    rng = np.random.RandomState(3)
    t = np.sort(rng.uniform(0, 10, 20))
    m = rng.normal(5, 1, 20)
    p = tmp_path / "bare_series.dat"
    pd.DataFrame({"t": t, "m": m}).to_csv(p, index=False, header=False)

    fset = featurize_archive(spark, str(p), ["mean"])
    assert list(fset.index) == ["bare_series"]
    assert p.exists()  # the user's input file is untouched


def test_parse_and_store_ts_data_archive_to_snapshot_table(spark, tmp_path):
    """Port of the reference's test_parsing_and_saving
    (/root/reference/cesium/tests/test_data_management.py:74-93) against
    the composed archive -> normalized-store ETL: with and without a
    header file, with cleanup flags exercised both ways. The store is a
    SnapshotTable of normalized (series, idx, t, m, e, label, meta...)
    rows instead of per-series .npz files."""
    import tarfile
    import numpy as np
    from cesium_spark.sources.archive import parse_and_store_ts_data
    from cesium_spark.sources.table import SnapshotTable

    rng = np.random.RandomState(7)
    data = {}
    for name in ("s215153", "s215176", "s218272"):
        t = np.sort(rng.uniform(0, 10, 20))
        m = rng.normal(5, 1, 20)
        e = rng.uniform(0.01, 0.1, 20)
        pd.DataFrame({"t": t, "m": m, "e": e}).to_csv(
            tmp_path / f"{name}.dat", index=False, header=False)
        data[name] = (t, m, e)
    # one 2-column member exercises the default-error pad through the
    # composed path too
    t2 = np.sort(rng.uniform(0, 5, 12))
    m2 = rng.normal(1, 1, 12)
    pd.DataFrame({"t": t2, "m": m2}).to_csv(
        tmp_path / "s2col.dat", index=False, header=False)
    data["s2col"] = (t2, m2, np.full(12, 1e-4))

    def make_tar(p):
        with tarfile.open(p, "w:gz") as tf:
            for name in data:
                tf.add(str(tmp_path / f"{name}.dat"), arcname=f"{name}.dat")

    hdr_p = tmp_path / "meta.csv"
    hdr_p.write_text(
        "filename,label,meta1\n"
        + "".join(f"{n}.dat,cls_{i % 2},{i * 0.5}\n"
                  for i, n in enumerate(sorted(data)))
    )

    # --- with header, no cleanup
    tar_p = str(tmp_path / "arch.tar.gz")
    make_tar(tar_p)
    table, snap, names = parse_and_store_ts_data(
        spark, tar_p, str(tmp_path / "store1"), str(hdr_p),
        cleanup_archive=False, cleanup_header=False)
    assert names == sorted(data)
    assert os.path.exists(tar_p) and os.path.exists(hdr_p)
    got = table.read(spark).toPandas()
    assert set(got.series) == set(data)
    assert set(got.columns) >= {"series", "idx", "t", "m", "e", "label", "meta1"}
    for i, n in enumerate(sorted(data)):
        rows = got[got.series == n].sort_values("idx")
        t, m, e = data[n]
        np.testing.assert_allclose(rows.t.to_numpy(), np.sort(t))
        order = np.argsort(t, kind="stable")
        np.testing.assert_allclose(rows.m.to_numpy(), m[order])
        np.testing.assert_allclose(rows.e.to_numpy(), e[order])
        assert (rows.label == f"cls_{i % 2}").all()
        np.testing.assert_allclose(rows.meta1.to_numpy(), i * 0.5)

    # --- without header; cleanup_archive deletes the upload
    tar_p2 = str(tmp_path / "arch2.tar.gz")
    make_tar(tar_p2)
    table2, _, _ = parse_and_store_ts_data(
        spark, tar_p2, str(tmp_path / "store2"), None,
        cleanup_archive=True, cleanup_header=False)
    assert not os.path.exists(tar_p2)
    got2 = table2.read(spark).toPandas()
    assert got2.label.isna().all()
    assert len(got2) == len(got)

    # --- header missing a series raises (reference parse_headerfile
    # parity through the composed call) AND, even with the default
    # cleanup flags, a FAILED ingest must not destroy the upload
    # (review finding r5: the archive used to be deleted right after
    # extraction, before header validation)
    bad_hdr = tmp_path / "bad.csv"
    bad_hdr.write_text("filename,label\ns215153.dat,x\n")
    tar_p3 = str(tmp_path / "arch3.tar.gz")
    make_tar(tar_p3)
    with pytest.raises(ValueError, match="header"):
        parse_and_store_ts_data(
            spark, tar_p3, str(tmp_path / "store3"), str(bad_hdr))
    assert os.path.exists(tar_p3) and os.path.exists(bad_hdr)

    # --- single-file passthrough: the input is NEVER deleted by temp
    # cleanup (review finding r5), only by cleanup_archive=True after
    # a successful store
    single = tmp_path / "solo.dat"
    t, m, e = data["s215153"]
    pd.DataFrame({"t": t, "m": m, "e": e}).to_csv(
        single, index=False, header=False)
    t4, _, names4 = parse_and_store_ts_data(
        spark, str(single), str(tmp_path / "store4"), None,
        cleanup_archive=False, cleanup_header=False)
    assert os.path.exists(single) and names4 == ["solo"]
    assert len(t4.read(spark).toPandas()) == len(t)
    parse_and_store_ts_data(
        spark, str(single), str(tmp_path / "store5"), None,
        cleanup_archive=True, cleanup_header=False)
    assert not os.path.exists(single)  # explicit post-success cleanup


def test_read_ts_csv_one_column_default_times(spark, tmp_path):
    """Reference parse_ts_data 1-column semantics
    (data_management.py:48-53): measurement-only file gets evenly
    spaced times over [0, DEFAULT_MAX_TIME] in file order and the
    constant default error."""
    import numpy as np

    p = tmp_path / "m_only.csv"
    vals = [3.0, 1.0, 4.0, 1.5, 9.0]
    p.write_text("".join(f"{v}\n" for v in vals))
    df = read_ts_csv(spark, str(p)).toPandas().sort_values("idx")
    np.testing.assert_allclose(df.t.to_numpy(), np.linspace(0, 1.0, 5))
    np.testing.assert_allclose(df.m.to_numpy(), vals)
    assert (df.e == 1e-4).all()
