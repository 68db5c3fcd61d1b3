"""Reference-parity dataset fetchers with an injectable transport.

The reference's dataset layer (cesium/datasets/util.py:1-137,
cesium/datasets/andrzejak.py:27-125, cesium/datasets/asas_training.py:
22-122) is a thin HTTP GET wrapped around pure logic: download ->
md5-verify -> extract -> parse -> rebuild (.dat archive + header CSV) ->
cache. Everything below the GET is implemented and tested here against
locally synthesized archives through an injectable ``transport``
callable (url -> bytes); the default transport uses urllib and works
wherever network is allowed. This sandbox blocks network, so only the
default transport itself goes unexercised — the md5 verification,
extraction, parsing, archive/header rebuild, and cache round-trip are
all real and tested.

Documented deviations from the reference:
- the fast-load cache is ``.npz`` (numpy, ``allow_pickle`` for the
  ragged lists) instead of a joblib ``.pkl`` — joblib is not a
  dependency of this repo, and the cache is an internal artifact, not
  an interchange format;
- fetchers accept ``transport=`` and ``md5sums=`` overrides so the
  checksum gate can be exercised against synthetic archives.
"""

from __future__ import annotations

import hashlib
import os
import tarfile

import numpy as np
import pandas as pd

__all__ = [
    "default_transport",
    "download_file",
    "download_and_extract_archives",
    "build_time_series_archive",
    "write_header",
    "fetch_andrzejak",
    "fetch_asas_training",
]

DATA_PATH = os.path.expanduser("~/.local/")

# public dataset constants (reference andrzejak.py:11-23)
ANDRZEJAK_BASE_URL = "https://github.com/cesium-ml/cesium-data/raw/main/andrzejak/"
ANDRZEJAK_ZIP_FILES = ["Z.zip", "O.zip", "N.zip", "F.zip", "S.zip"]
ANDRZEJAK_MD5SUMS = {
    "Z.zip": "ca5c761d62704c4d2465822e2131f868",
    "O.zip": "666ade7e9d519935103404d4a8d81d7d",
    "N.zip": "0bb8e39ae7530ba17f55b5b4f14e6a02",
    "F.zip": "10f78c004122c609e8eef74de8790af3",
    "S.zip": "1d560ac1e03a5c19bb7f336e270ff286",
}
ANDRZEJAK_T_MAX = 23.6

# reference asas_training.py:11-16
ASAS_BASE_URL = "https://github.com/cesium-ml/cesium-data/raw/main/asas_training/"
ASAS_ARCHIVE = "asas_training_set.tar.gz"
ASAS_HEADER = "asas_training_set_classes_with_metadata.dat"
ASAS_MD5SUMS = {ASAS_ARCHIVE: "02c65e90d23999ec1c59ad56a78de477"}


def default_transport(url: str) -> bytes:
    """HTTP GET via urllib — the only network-touching line in this
    module; swap it out (``transport=``) to fetch from anywhere."""
    import urllib.request

    with urllib.request.urlopen(url) as r:
        return r.read()


def _md5sum_file(path: str) -> str:
    m = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 16), b""):
            m.update(chunk)
    return m.hexdigest()


def download_file(data_dir, base_url, filename, transport=None) -> str:
    """Fetch one file into data_dir; returns its path."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, filename)
    with open(path, "wb") as f:
        f.write((transport or default_transport)(base_url + filename))
    return path


def download_and_extract_archives(
    data_dir,
    base_url,
    filenames,
    md5sums=None,
    transport=None,
    remove_archive=True,
):
    """Fetch archives, verify md5 checksums (ValueError on mismatch —
    the reference's abort contract, datasets/util.py:88-92), extract via
    sources.archive.extract_time_series; returns extracted paths."""
    from .sources.archive import extract_time_series

    out = []
    for fname in filenames:
        archive_path = download_file(data_dir, base_url, fname, transport)
        if md5sums is not None:
            got = _md5sum_file(archive_path)
            if got != md5sums[fname]:
                raise ValueError(
                    f"File {fname} checksum verification has failed."
                    f" Dataset fetching aborted."
                )
        with extract_time_series(
            archive_path, cleanup_archive=remove_archive, extract_dir=data_dir
        ) as paths:
            out.extend(paths)
    return out


def build_time_series_archive(archive_path, ts_paths) -> None:
    """Uncompressed tar of the given series files, basenames as arcnames
    (the hand-off format the reference's front end ingests)."""
    with tarfile.TarFile(archive_path, "w") as t:
        for p in ts_paths:
            t.add(p, arcname=os.path.basename(p))


def write_header(header_path, filenames, classes, metadata=None) -> None:
    """Header CSV (filename, class[, meta...]) keyed by shortened
    series names — the key a featureset joins its meta features on."""
    from .sources.transcripts import shorten_fname

    cols = {
        "filename": [shorten_fname(f) for f in filenames],
        "class": list(classes),
    }
    cols.update(metadata or {})
    pd.DataFrame(cols).to_csv(header_path, index=False)


def _parse_dat(path: str):
    """One delimited series file -> (t, m, e) float arrays with the
    TimeSeries default pads (linspace times, DEFAULT_ERROR_VALUE)."""
    from .time_series import TimeSeries

    # ndmin=2 keeps orientation unambiguous: a single-COLUMN file loads
    # as (n, 1) and a single-ROW file as (1, k) — np.atleast_2d on a 1-d
    # result would turn a measurement-only column into a (1, n) row
    # vector and misparse it (review finding)
    arr = np.loadtxt(path, delimiter=",", ndmin=2)
    if arr.shape[1] == 1:
        ts = TimeSeries(None, arr[:, 0])
    elif arr.shape[1] == 2:
        ts = TimeSeries(arr[:, 0], arr[:, 1])
    else:
        ts = TimeSeries(arr[:, 0], arr[:, 1], arr[:, 2])
    return ts.time, ts.measurement, ts.error


def _parse_header_pandas(header_path, ts_paths):
    """Driver-side header parse (reference data_management.
    parse_headerfile:61-111 semantics): (classes Series indexed by
    shortened name, metadata DataFrame of the remaining columns)."""
    from .sources.transcripts import shorten_fname

    df = pd.read_csv(header_path, comment="#")
    df.columns = [c.lower() for c in df.columns]
    fname_col = "filename" if "filename" in df.columns else df.columns[0]
    df[fname_col] = df[fname_col].map(shorten_fname)
    df = df.set_index(fname_col)
    label_col = next(
        (c for c in ("class", "label", "target", "class_label") if c in df.columns),
        None,
    )
    names = [shorten_fname(p) for p in ts_paths]
    df = df.loc[[n for n in names if n in df.index]]
    classes = df[label_col] if label_col else pd.Series(index=df.index, dtype=object)
    metadata = df.drop(columns=[label_col] if label_col else [])
    return classes, metadata


def _cache_save(path: str, **arrays) -> None:
    np.savez_compressed(path, **{k: np.asarray(v, dtype=object) for k, v in arrays.items()})


def _cache_load(path: str) -> dict:
    with np.load(path, allow_pickle=True) as z:
        return {k: z[k].tolist() if z[k].dtype == object else z[k] for k in z.files}


def fetch_andrzejak(data_dir=None, transport=None, md5sums=ANDRZEJAK_MD5SUMS) -> dict:
    """EEG sample dataset (Andrzejak et al. 2001), reference
    andrzejak.py:90-125 contract: dict with times / measurements /
    classes / archive / header. Single-column .txt series get
    t = linspace(0, 23.6, n); the class is the file's leading letter.
    Cached after first fetch (.npz; see module docstring)."""
    if data_dir is None:
        data_dir = os.path.join(DATA_PATH, "datasets/andrzejak")
    cache = os.path.join(data_dir, "andrzejak.npz")
    if os.path.exists(cache):
        d = _cache_load(cache)
        return dict(
            times=[np.asarray(x, dtype=np.float64) for x in d["times"]],
            measurements=[np.asarray(x, dtype=np.float64) for x in d["measurements"]],
            classes=np.asarray(d["classes"]),
            archive=d["archive"][0],
            header=d["header"][0],
        )

    ts_paths = download_and_extract_archives(
        data_dir, ANDRZEJAK_BASE_URL, ANDRZEJAK_ZIP_FILES, md5sums, transport
    )
    times, measurements, classes, dat_paths = [], [], [], []
    for p in sorted(ts_paths):
        m = np.loadtxt(p)
        t = np.linspace(0, ANDRZEJAK_T_MAX, len(m))
        dat = p[: p.rfind(".")] + ".dat"
        np.savetxt(dat, np.vstack((t, m)).T, delimiter=",")
        times.append(t)
        measurements.append(m)
        classes.append(os.path.basename(dat)[0])
        dat_paths.append(dat)
    archive_path = os.path.join(data_dir, "andrzejak.tar.gz")
    build_time_series_archive(archive_path, dat_paths)
    header_path = os.path.join(data_dir, "andrzejak.csv")
    write_header(header_path, dat_paths, classes)
    for p in set(ts_paths) | set(dat_paths):
        if os.path.exists(p):
            os.remove(p)
    data = dict(
        times=times,
        measurements=measurements,
        classes=np.array(classes),
        archive=archive_path,
        header=header_path,
    )
    _cache_save(
        cache,
        times=times,
        measurements=measurements,
        classes=list(data["classes"]),
        archive=[archive_path],
        header=[header_path],
    )
    return data


def fetch_asas_training(data_dir=None, transport=None, md5sums=ASAS_MD5SUMS) -> dict:
    """ASAS variable-star training set (Richards et al. 2012), reference
    asas_training.py:83-122 contract: dict with times / measurements /
    errors / classes (Series by shortened name) / metadata (DataFrame) /
    archive / header. Cached after first fetch."""
    if data_dir is None:
        data_dir = os.path.join(DATA_PATH, "datasets/asas_training")
    cache = os.path.join(data_dir, "asas_training.npz")
    if os.path.exists(cache):
        d = _cache_load(cache)
        hdr = pd.read_pickle(os.path.join(data_dir, "asas_header.pkl"))
        return dict(
            times=[np.asarray(x, dtype=np.float64) for x in d["times"]],
            measurements=[np.asarray(x, dtype=np.float64) for x in d["measurements"]],
            errors=[np.asarray(x, dtype=np.float64) for x in d["errors"]],
            classes=hdr["classes"],
            metadata=hdr["metadata"],
            archive=d["archive"][0],
            header=d["header"][0],
        )

    header_path = download_file(data_dir, ASAS_BASE_URL, ASAS_HEADER, transport)
    ts_paths = download_and_extract_archives(
        data_dir, ASAS_BASE_URL, [ASAS_ARCHIVE], md5sums, transport,
        remove_archive=False,
    )
    archive_path = os.path.join(data_dir, ASAS_ARCHIVE)
    times, measurements, errors = [], [], []
    for p in sorted(ts_paths):
        t, m, e = _parse_dat(p)
        times.append(t)
        measurements.append(m)
        errors.append(e)
    classes, metadata = _parse_header_pandas(header_path, sorted(ts_paths))
    for p in ts_paths:
        if os.path.exists(p):
            os.remove(p)
    data = dict(
        times=times,
        measurements=measurements,
        errors=errors,
        classes=classes,
        metadata=metadata,
        archive=archive_path,
        header=header_path,
    )
    # the npz is the cache-hit existence gate, so it must be written
    # LAST: a crash between the two writes must leave a cache MISS
    # (re-fetch), never a hit that dies on the missing header pickle
    pd.to_pickle({"classes": classes, "metadata": metadata},
                 os.path.join(data_dir, "asas_header.pkl"))
    _cache_save(
        cache,
        times=times,
        measurements=measurements,
        errors=errors,
        archive=[archive_path],
        header=[header_path],
    )
    return data
