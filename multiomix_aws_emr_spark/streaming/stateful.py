"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's driver loop carries per-star state across iterations on the
driver (`scripts/metaheuristics.py:576-715`); the streaming-native analog
is per-key state carried by the state store across micro-batches. This
module implements the canonical shape — per-user running totals that
survive micro-batch boundaries — as an Arrow-batched grouped-map with
explicit ``GroupState``:

- state schema is a compact struct (n bigint, s double): the store holds
  one row per key, independent of input size — the property that lets it
  run unbounded at 100 TB/day ingest;
- each micro-batch updates only the keys present in that batch (update
  output mode), so emitted rows are deltas, not a full re-dump;
- no timeout is set (totals never expire); session-style eviction would
  use ``GroupStateTimeout.EventTimeTimeout`` plus a watermark, as the
  watermark module does for windows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from multiomix_aws_emr_spark.session import configure
from multiomix_aws_emr_spark.streaming.util import (
    bounded_result,
    static_and_stream,
)

_OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
_STATE_SCHEMA = "n bigint, s double"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].dropna().sum())
    state.update((n, s))
    # raw sum out; rounding happens JVM-side afterward (SQL ROUND is
    # half-away-from-zero, Python's round is banker's — mixing them
    # breaks cross-engine parity on .xx5 boundaries)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
    )


def running_totals_plan(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in the state store."""
    ev = events_stream.select("user_id", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_running_totals(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    *,
    sink_dir: str | None = None,
) -> DataFrame:
    """Drive the stateful operator over parquet files as a bounded stream
    (one file per micro-batch, availableNow). Update mode emits one row
    per (user, batch-with-activity); the FINAL update per user equals the
    batch groupBy total, so the result reduces the sink to it — per-user
    n_events strictly increases across that user's updates, making max_by
    exact. (A single-file replay has one batch and the reduction is a
    no-op; a multi-part directory replay emits intermediate updates —
    caught by the directory-layout parity sweep, round 5.)

    Emitted updates are row-proportional to (users x active batches), so
    big replays need ``sink_dir`` / ``SPARK_GRAFT_STREAM_SINK_DIR`` (see
    :func:`~.util.bounded_result`): duplicate keys across batches are
    exactly what the reduction already handles.
    """
    from pyspark.sql import functions as F

    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)
    result, _ = bounded_result(
        spark,
        running_totals_plan(stream),
        "st",
        n_state=n_state,
        mode="update",
        sink_dir=sink_dir,
    )
    final = result.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )
    return final.select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    )
