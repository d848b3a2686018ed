"""Survival-data ingestion: molecules/clinical TSV -> driver pandas frames.

Re-founds the reference reader (`scripts/utils.py:26-63`) on Spark:

- the molecules TSV is stored features x samples with the feature id in the
  first column. It is read as stored: one CSV scan, one flat projection
  casting every sample column to double, one Arrow transfer, and the
  reference's own transpose (`utils.py:53`) on the driver, where the matrix
  is broadcast to the evaluators anyway (`core.py:167-169`). The plan's size
  depends on the number of samples, never on the number of features: at
  60x120 this is 4 Spark jobs per experiment instead of the 14 an
  unpivot/pivot/clean plan took, and it ingests 300x2,000, 100x12,000 and
  500x20,000 matrices, where that plan hit a ``StackOverflowError`` (a
  p-way AND filter) or ``spark.sql.pivotMaxValues`` (BASELINE.md).
- clinical TSV -> (event boolean, time double) indexed by sample_id
  (`utils.py:59-62`, R2).
- clean_wide reproduces `clean_dataset` (`utils.py:26-35`) on that frame.
- long_to_wide / wide_to_long are the Spark long <-> wide pair for
  DataFrame callers; the experiment path does not use them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.session import configure


def read_molecules_tsv(spark: SparkSession, path: str) -> pd.DataFrame:
    """Molecules TSV (features x samples, `utils.py:53`) -> samples x
    features doubles. Spark's string->double cast reads the ``inf``/``-inf``
    /``NaN`` spellings pandas writes, and an empty cell becomes NaN; a
    typed ``double`` CSV schema would read a line holding ``inf`` as all
    NULL, turning an R4 row drop into R3 column drops."""
    configure(spark)
    raw = spark.read.csv(path, sep="\t", header=True)
    feature_col, *sample_cols = raw.columns
    pdf = raw.select(
        feature_col, *[F.col(c).cast("double") for c in sample_cols]
    ).toPandas()
    ids = pdf[feature_col]
    duplicated = sorted(ids[ids.duplicated()].unique())
    if duplicated:
        raise ValueError(f"{path}: duplicate feature ids {duplicated}")
    return pdf.set_index(feature_col).T


def read_clinical_tsv(spark: SparkSession, path: str) -> pd.DataFrame:
    """Clinical TSV -> (event bool, time double) indexed by sample_id
    (`utils.py:59-62`: structured array 'event bool, time float')."""
    configure(spark)
    raw = spark.read.csv(path, sep="\t", header=True)
    id_col = raw.columns[0]
    return raw.select(
        F.col(id_col).alias("sample_id"),
        F.col("event").cast("boolean").alias("event"),
        F.col("time").cast("double").alias("time"),
    ).toPandas().set_index("sample_id")


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
