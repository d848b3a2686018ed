"""Structured Streaming: session windows with watermark-driven finalization.

The logical plan is the SAME ``session_window`` aggregate as the batch
`window_sessionize` query (queries/windows.py) — that is the point:
sessionization written once runs as backfill (batch) and live (stream)
with identical semantics, because Spark's session_window is a first-class
aggregate in both modes.

Execution model:
- state per (user, open session), merged as events arrive out of order
  within the watermark horizon;
- append mode emits a session exactly once, when the watermark (max event
  time - 1h) passes ``session.end`` (last event + gap) — so a bounded run
  emits every session except the trailing not-yet-finalizable ones.
  tests/test_streaming.py asserts emitted ⊆ batch and non-emptiness.
- at scale, state is bounded by the watermark horizon x active users, not
  by stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.session import configure
from multiomix_aws_emr_spark.sources.tables import ts_ms_expr
from multiomix_aws_emr_spark.streaming.util import (
    bounded_result,
    static_and_stream,
)


def session_window_plan(events_stream: DataFrame) -> DataFrame:
    """30-min-gap sessions per user over a (possibly streaming) events
    DataFrame (ts as bigint ns): same output contract as the batch
    `window_sessionize` query."""
    ev = events_stream.select(
        ts_ms_expr(events_stream).alias("ts_ms"), "user_id", "value"
    ).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.withWatermark("tts", "1 hour")
        .groupBy("user_id", F.session_window("tts", "30 minutes").alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("_w.start").alias("session_start_ms"),
            F.unix_millis("_w.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


def run_streaming_sessions(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    *,
    sink_dir: str | None = None,
) -> DataFrame:
    """Run the session aggregate over parquet as a bounded stream
    (availableNow, byte-capped micro-batches) and return the
    watermark-finalized sessions.

    Emitted sessions are row-proportional to the replayed events, so the
    sink choice is the scale axis: memory sink for fixture replays / the
    driver contract, ``sink_dir`` (or ``SPARK_GRAFT_STREAM_SINK_DIR``)
    for big replays — see :func:`~.util.bounded_result`.
    """
    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)
    out = session_window_plan(stream)
    return bounded_result(
        spark, out, "sessions", n_state=n_state, sink_dir=sink_dir
    )[0]
