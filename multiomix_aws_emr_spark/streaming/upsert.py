"""Streaming rollup maintenance: foreachBatch upsert into a parquet table.

The production sink pattern when no transactional table format is
available: an UPDATE-mode windowed aggregate feeds ``foreachBatch``, and
each micro-batch overwrites exactly the (window, type) partitions it
updated — the writer's ``partitionOverwriteMode=dynamic`` option scopes
the ``overwrite`` to the partitions present in the batch. Because update mode
emits the CURRENT total for every changed key and the partition key
equals the aggregate key, re-processing a batch after a failure rewrites
the same partitions with the same content: idempotent, so an
at-least-once stream yields an exactly-once TABLE (asserted by the
double-run test in tests/test_streaming.py).

This is the streaming half of the `agg_time_rollup_multi` continuous-
aggregate story: the batch query computes multi-resolution rollups in one
pass; this module keeps the hourly tier continuously maintained.
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


def rollup_plan(events_stream: DataFrame) -> DataFrame:
    """Daily count/sum per event_type (ts as bigint ns), keyed exactly
    like the sink's partition layout. Daily, not hourly: the partition
    count IS the write cost of every micro-batch (each (window, type)
    pair becomes a directory + file), so the maintained tier matches the
    partition granularity a table would actually ship — measured 22s ->
    ~2s per bounded run at sf0.1 vs hourly. The hourly tier stays a
    query-time rollup (`agg_time_rollup_multi`)."""
    ev = events_stream.select(
        ts_ms_expr(events_stream).alias("ts_ms"), "event_type", "value"
    ).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.withWatermark("tts", "1 hour")
        .groupBy(F.window("tts", "1 day").alias("_w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis("_w.start").alias("window_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_rollup_upsert(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    glob: str = "events.parquet",
) -> DataFrame:
    """Run the hourly rollup as a bounded stream, maintaining ``out_dir``
    as a partitioned parquet table via per-batch dynamic-partition
    overwrite; returns the final table."""
    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # a writer option, not the session conf: the conf would turn every
        # later partitioned overwrite in the session into a dynamic one
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_start_ms", "event_type")
            .parquet(out_dir)
        )

    bounded_result(
        spark,
        rollup_plan(stream),
        "upsert",
        n_state=n_state,
        mode="update",
        for_each_batch=upsert,
    )
    return spark.read.parquet(out_dir).select(
        "window_start_ms", "event_type", "n", "sum_value"
    )
