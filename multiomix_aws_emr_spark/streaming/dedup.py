"""Structured Streaming: exactly-once event dedup within a watermark.

``dropDuplicatesWithinWatermark`` is the streaming half of the exact-dedup
story (the batch half is `dedup_exact` / `dedup_latest_version`): re-sent
events — at-least-once sources re-deliver on retry — are suppressed as
long as the duplicate arrives within the watermark horizon of the first
copy, and the dedup state is evicted once the watermark passes, so state
is bounded by (horizon x arrival rate), NOT by stream length. A plain
streaming ``dropDuplicates`` would keep every key forever — the classic
unbounded-state bug at 100 TB/day; the *WithinWatermark* variant is the
scale-correct operator (it also tolerates duplicates carrying slightly
different event times, which re-delivery in practice does).
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


def dedup_plan(events_stream: DataFrame) -> DataFrame:
    """Drop re-delivered events by event_id within a 1-hour watermark,
    then count survivors per event_type (ts as bigint ns)."""
    ev = events_stream.select(
        "event_id", "event_type", ts_ms_expr(events_stream).alias("ts_ms")
    ).withColumn("tts", F.timestamp_millis("ts_ms"))
    deduped = ev.withWatermark("tts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.groupBy(
            F.window("tts", "1 hour").alias("_w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .select(
            F.unix_millis("_w.start").alias("window_start_ms"),
            "event_type",
            "n_unique",
        )
    )


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    *,
    sink_dir: str | None = None,
) -> DataFrame:
    """Run the dedup + windowed count over parquet as a bounded stream
    (availableNow, byte-capped micro-batches; memory sink by default,
    durable parquet sink via ``sink_dir`` /
    ``SPARK_GRAFT_STREAM_SINK_DIR`` for big replays)."""
    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)
    out = dedup_plan(stream)
    return bounded_result(
        spark, out, "dedup", n_state=n_state, sink_dir=sink_dir
    )[0]
