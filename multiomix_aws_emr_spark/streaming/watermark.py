"""Structured Streaming: watermarked tumbling aggregation with late-row drop.

The logical plan is identical to queries/streams.py:stream_tumbling — only
the source (``readStream``) and sink differ, which is the point of
expressing the batch queries with ``F.window`` in the first place.

Execution model notes:
- ``withWatermark('tts', '1 hour')``: state for a window is kept until the
  event-time watermark (max seen ts - 1h) passes its end; later rows for
  finalized windows are DROPPED — the semantics exercised by the two-batch
  test in tests/test_streaming.py.
- append output mode emits a window exactly once, on finalization. The
  trailing (never-finalized) windows of a bounded run are therefore not
  emitted — correct streaming semantics, asserted in tests.
- at scale the state store is per-(window,type) — bounded by watermark
  horizon, not by input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.session import configure
from multiomix_aws_emr_spark.sources.tables import ts_ms_expr
from multiomix_aws_emr_spark.streaming.util import (
    bounded_result,
    cleanup_stream_checkpoint,
    static_and_stream,
    stream_checkpoint_dir,
)


def watermarked_tumbling_plan(events_stream: DataFrame) -> DataFrame:
    """1h-watermark + 1h-tumbling count/sum per event_type over a streaming
    events DataFrame (ts as bigint ns, as read with nanosAsLong)."""
    ev = events_stream.select(
        ts_ms_expr(events_stream).alias("ts_ms"), "event_type", "value"
    ).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.withWatermark("tts", "1 hour")
        .groupBy(F.window("tts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "n",
            "sum_v",
        )
    )


def run_watermarked_tumbling(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Run the watermarked aggregation over parquet files as a bounded
    stream (availableNow trigger, one file per micro-batch so the watermark
    advances between batches, memory sink) and return the emitted rows."""
    result, _ = run_watermarked_tumbling_with_drop_count(spark, sf_dir, glob)
    return result


def run_watermarked_tumbling_with_drop_count(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> tuple[DataFrame, int]:
    """Same bounded run, also returning how many input rows the watermark
    DROPPED, summed from each micro-batch's StreamingQueryProgress
    (``stateOperators[].numRowsDroppedByWatermark`` — the engine's own
    audit counter, so the drop is asserted from runtime telemetry, not
    inferred from missing output)."""
    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)
    result, progress = bounded_result(
        spark, watermarked_tumbling_plan(stream), "wm", n_state=n_state
    )
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for op in p.get("stateOperators", [])
    )
    return result, dropped


def rate_source_smoke(
    spark: SparkSession,
    *,
    rows_per_second: int = 500,
    min_batches: int = 2,
    stall_timeout_sec: float = 60.0,
    hard_cap_sec: float = 600.0,
) -> dict:
    """Run the SAME watermarked plan against Spark's unbounded ``rate``
    source — the production shape (kafka/kinesis stand-in) — long enough
    to observe ``min_batches`` non-empty micro-batches, then stop.

    The deadline is PROGRESS-BASED, not wall-clock-based: the run fails
    only when the stream reports no NEW micro-batch progress event for
    ``stall_timeout_sec`` seconds ("stream wedged"); while progress events
    keep arriving — however slowly, e.g. under full-suite load — we keep
    waiting, up to a generous ``hard_cap_sec`` safety cap. This
    distinguishes a slow host from a dead stream at any load level.

    Returns {"input_rows": total rows ingested, "batches": progress count,
    "watermark_set": whether the event-time watermark advanced past the
    epoch, "stalled": whether we gave up before min_batches, "reason":
    None on success, else "stalled" (no NEW progress event for the stall
    window — the stream is wedged) or "hard_cap" (alive — progress events
    kept arriving — but rowless until the safety cap; a source problem,
    not an engine problem)}. Append-mode
    1-hour windows never finalize within a smoke run (correct semantics);
    what this verifies is that the identical logical plan binds to an
    unbounded source, micro-batches flow, and the watermark tracks event
    time."""
    import time as _time

    configure(spark)
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    # shape the rate stream like the events table (ts bigint ns)
    ev = rate.select(
        (F.unix_millis("timestamp") * F.lit(1_000_000)).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )
    out = watermarked_tumbling_plan(ev)
    ckpt = stream_checkpoint_dir(spark, "ck_rate")
    q = (
        out.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    start = _time.monotonic()
    hard_deadline = start + hard_cap_sec
    # the stall clock counts from the stream start and resets on every
    # NEW progress event (tracked by batchId); empty batches count as
    # progress — the engine is alive, just hasn't ingested yet
    last_progress_at = start
    seen_batch_ids: set = set()
    reason = None
    try:
        while True:
            for p in q.recentProgress:
                bid = p.get("batchId")
                if bid not in seen_batch_ids:
                    seen_batch_ids.add(bid)
                    last_progress_at = _time.monotonic()
            nonempty = [
                p
                for p in q.recentProgress
                if int(p.get("numInputRows", 0)) > 0
            ]
            if len(nonempty) >= min_batches:
                break
            now = _time.monotonic()
            if now - last_progress_at > stall_timeout_sec:
                reason = "stalled"  # no new micro-batch for the window
                break
            if now > hard_deadline:
                reason = "hard_cap"  # alive but rowless until the cap
                break
            _time.sleep(0.5)
        progress = list(q.recentProgress)
    finally:
        q.stop()  # an unstopped rate stream would burn cores forever
    # SUCCESS-ONLY sweep (stream_checkpoint_dir policy): an exception
    # keeps the checkpoint for diagnosis. A stalled/hard-cap outcome
    # returns normally (reason in the dict) and sweeps — a synthetic
    # rate source's offsets have no diagnostic value.
    cleanup_stream_checkpoint(ckpt, spark)
    input_rows = sum(int(p.get("numInputRows", 0)) for p in progress)
    wm_set = any(
        p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00.000Z")
        > "1971-01-01"
        for p in progress
    )
    return {
        "input_rows": input_rows,
        "batches": len(progress),
        "watermark_set": wm_set,
        "stalled": reason is not None,
        "reason": reason,
    }
