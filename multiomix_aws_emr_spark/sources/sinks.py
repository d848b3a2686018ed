"""Result sinks: the Spark-native replacements of the reference's outputs.

The reference writes three artifacts per experiment
(`scripts/core.py:249-289`): a metrics JSON of parallel lists (D6), a
`result.json`, and a pickled best estimator (`model.pkl`, R25). Here:

- tidy metrics/result DataFrames go to JSON lines or parquet via
  ``df.write`` (R24); partitioned parquet is the at-scale default
  (partition column prunes reads; parquet stats skip row groups);
- a BBHA run's metrics, one row per (iteration, star) in place of the
  dict-of-parallel-lists, are already on the driver (one bounded collect
  per iteration), so ``metrics.parquet`` is written there with pyarrow,
  like the reference writes its outputs: the same hive-partitioned
  dataset a Spark write produced, without a Spark job and its commit
  protocol for a few dozen rows;
- model artifacts are pickled to a path and referenced BY PATH from
  result rows — estimators never travel inside DataFrames
  (SURVEY.md §1.2 D4 note).
"""

from __future__ import annotations

import os
import pickle
import shutil
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines sink (R24: `scripts/core.py:262-263,287-289`)."""
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink; pass ``partition_by`` for partition-pruned layouts."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


#: ``metrics.parquet``: one row per evaluated (iteration, star); the
#: all-features baseline is ``iteration = star_id = -1``.
METRICS_SCHEMA = pa.schema(
    [
        ("iteration", pa.int32()),
        ("star_id", pa.int32()),
        ("fitness", pa.float64()),
        ("n_features", pa.int32()),
        ("exec_time", pa.float64()),
        ("hostname", pa.string()),
    ]
)


def write_metrics_parquet(history: list[dict], path: str) -> None:
    """Write BBHA history rows to ``path`` on the driver: a parquet dataset
    hive-partitioned by ``iteration``, ``zstd``-compressed (the session's
    write codec). Whatever was at ``path`` is replaced first, as a Spark
    overwrite does. ``spark.read.parquet`` reads it back as
    ``struct<star_id:int,fitness:double,n_features:int,exec_time:double,
    hostname:string,iteration:int>``."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)
    pq.write_to_dataset(
        pa.Table.from_pylist(history, schema=METRICS_SCHEMA),
        path,
        partition_cols=["iteration"],
        compression="zstd",
        basename_template="part-{i}.parquet",
    )


def write_model_artifact(model: Any, directory: str, name: str = "model.pkl") -> str:
    """Pickle an estimator to ``directory/name`` and return the path
    (R25: `scripts/core.py:265-269`). Store the returned path in result
    rows instead of the object."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, name)
    with open(path, "wb") as fh:
        pickle.dump(model, fh)
    return path


def read_model_artifact(path: str) -> Any:
    """Load a pickled estimator previously written by write_model_artifact.

    Only unpickle artifacts this engine wrote itself (pickle executes
    arbitrary code by design — never point this at untrusted files).
    """
    with open(path, "rb") as fh:
        return pickle.load(fh)
