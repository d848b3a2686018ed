"""Survival-data ingestion: molecules/clinical TSV -> driver pandas frames.

Re-founds the reference reader (`scripts/utils.py:26-63`) on Spark:

- each TSV is copied on the driver through the session's Hadoop
  ``FileSystem``, with no Spark job, so every path the session can read
  works (local, ``file://`` and whatever ``s3a://``/``hdfs://`` the
  session is configured for), and parsed on the driver by the
  reference's own parser, ``pd.read_csv(sep='\t', index_col=0)``
  (`utils.py:53,59-62`). The matrix lands on the driver anyway: it is
  broadcast to the evaluators (`core.py:167-169`). Fetching the bytes
  with a Spark job cost one job per file and about 7x the wall
  (BASELINE.md).
- the molecules TSV is stored features x samples with the feature id in
  the first column; the reader returns the reference's transpose
  (`utils.py:53`), samples x features.
- clinical TSV -> (event boolean, time double) indexed by sample_id
  (`utils.py:59-62`, R2).
- clean_wide reproduces `clean_dataset` (`utils.py:26-35`) on that frame.
- long_to_wide / wide_to_long are the Spark long <-> wide pair for
  DataFrame callers; the experiment path does not use them.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: File suffix -> pandas codec, the suffixes ``pd.read_csv(path)`` infers.
_COMPRESSION = {".gz": "gzip", ".bz2": "bz2", ".xz": "xz", ".zst": "zstd"}
#: The value-cell spellings read as NaN; ids are never NA.
_NA = ["", "NaN", "nan", "NA", "NULL", "null"]
#: Spark's string -> boolean spellings (case-insensitive).
_EVENT = {s: True for s in ("1", "t", "true", "y", "yes")} | {
    s: False for s in ("0", "f", "false", "n", "no")
}


def _resolve(spark: SparkSession, path: str):
    """(file system, status) of the one file ``path`` names, resolved as
    Spark's file index does: a glob, or a directory whose visible files
    (no path part under it starting with ``_`` or ``.``) are listed
    recursively. The file system comes from the session's Hadoop conf, so
    ``spark.hadoop.*`` settings apply. Anything but exactly one file
    raises ``ValueError``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    files = []
    for status in fs.globStatus(hpath) or []:  # None: a missing plain path
        if not status.isDirectory():
            files.append(status)
            continue
        root = status.getPath().toUri().getPath().rstrip("/") + "/"
        listing = fs.listFiles(status.getPath(), True)
        while listing.hasNext():
            leaf = listing.next()
            parts = leaf.getPath().toUri().getPath()[len(root):].split("/")
            if not any(p.startswith(("_", ".")) for p in parts):
                files.append(leaf)
    if len(files) != 1:
        raise ValueError(f"{path}: expected exactly one file, matched {len(files)}")
    return fs, files[0]


def _read_tsv(
    spark: SparkSession, path: str, columns: dict[str, type] | None = None
) -> pd.DataFrame:
    """Copy the one file ``path`` names (see :func:`_resolve`) into a
    private temporary directory on the driver, with no Spark job, and
    parse it with ``pd.read_csv(sep='\\t', index_col=0)``; the copy is
    removed whether or not the parse succeeds.

    The first column is the index and stays a verbatim string (``0012``,
    ``NA``). ``columns`` maps the other columns to read to their dtypes;
    by default every other column is read as ``float64``. A float cell
    reads ``inf``/``-inf``/``NaN`` as such and the :data:`_NA` spellings
    (an empty cell among them) as NaN; any other non-number raises
    ``ValueError``. Floats are parsed correctly rounded (``round_trip``),
    as Spark's string cast did: pandas' default parser is one ulp off on
    about a third of 17-digit values. Compression follows the resolved
    file's suffix (:data:`_COMPRESSION`).
    """
    fs, status = _resolve(spark, path)
    name = status.getPath().toString()
    compression = _COMPRESSION.get(os.path.splitext(name.lower())[1])
    with tempfile.TemporaryDirectory() as tmp:
        local = os.path.join(tmp, "copy")
        jvm = spark._jvm
        # the raw local file system writes no .crc beside the copy
        fs.copyToLocalFile(
            False,
            status.getPath(),
            jvm.org.apache.hadoop.fs.Path(jvm.java.io.File(local).toURI()),
            True,
        )
        id_col, *value_cols = pd.read_csv(
            local, sep="\t", nrows=0, compression=compression
        ).columns
        usecols = None if columns is None else [id_col, *columns]
        if columns is None:
            columns = dict.fromkeys(value_cols, np.float64)
        floats = [c for c, t in columns.items() if t is np.float64]
        return pd.read_csv(
            local,
            sep="\t",
            index_col=0,
            usecols=usecols,
            compression=compression,
            dtype={id_col: str, **columns},
            keep_default_na=False,
            na_values=dict.fromkeys(floats, _NA),
            float_precision="round_trip",
        )


def read_molecules_tsv(spark: SparkSession, path: str) -> pd.DataFrame:
    """Molecules TSV (features x samples, `utils.py:53`) -> samples x
    features doubles, in file order (see :func:`_read_tsv` for the cell
    spellings and the compression). Raises ``ValueError`` naming repeated
    feature ids."""
    x = _read_tsv(spark, path)
    duplicated = sorted(x.index[x.index.duplicated()].unique())
    if duplicated:
        raise ValueError(f"{path}: duplicate feature ids {duplicated}")
    return x.T


def read_clinical_tsv(spark: SparkSession, path: str) -> pd.DataFrame:
    """Clinical TSV -> (event bool, time double) indexed by sample_id
    (`utils.py:59-62`: structured array 'event bool, time float').
    ``event`` takes Spark's boolean spellings (0/1, true/false, t/f,
    yes/no, y/n, any case); any other value, an empty cell included,
    raises ``ValueError``."""
    raw = _read_tsv(spark, path, {"event": str, "time": np.float64})
    event = raw["event"].str.strip().str.lower().map(_EVENT)
    if event.isna().any():
        bad = sorted(raw["event"][event.isna()].unique())
        raise ValueError(f"{path}: event values {bad} are not booleans")
    return pd.DataFrame(
        {"event": event.astype(bool), "time": raw["time"]},
        index=raw.index.rename("sample_id"),
    )


def long_to_wide(long: DataFrame, id_col: str = "sample_id") -> DataFrame:
    """(sample_id, feature, value) -> samples x features wide frame
    (the in-memory orientation of the reference after its transpose)."""
    return long.groupBy(id_col).pivot("feature").agg(F.first("value"))


def wide_to_long(wide: DataFrame, id_col: str = "sample_id") -> DataFrame:
    """Inverse of :func:`long_to_wide` (lossless round-trip)."""
    value_cols = [c for c in wide.columns if c != id_col]
    return wide.unpivot(
        ids=[id_col],
        values=value_cols,
        variableColumnName="feature",
        valueColumnName="value",
    )


def clean_wide(x: pd.DataFrame) -> pd.DataFrame:
    """The reference's `clean_dataset` (`utils.py:26-35`), in its order:

    1. drop every feature column containing a NaN (``dropna(axis=
       'columns')``, R3);
    2. drop every row with ±Inf in a kept column (R4), so a row whose only
       Inf sat in a dropped column stays;
    3. cast to float64 (R5).

    Columns come back in sorted feature-id order, the order a Spark pivot
    yields (UTF-8 byte order is code-point order), so BBHA's masks index
    the same features whatever the file's row order.
    """
    x = x.dropna(axis="columns")
    x = x[~np.isinf(x.to_numpy(dtype=np.float64)).any(axis=1)]
    return x.astype(np.float64).sort_index(axis="columns")
