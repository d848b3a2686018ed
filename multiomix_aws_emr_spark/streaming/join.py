"""Structured Streaming: watermarked stream-stream interval join.

The closure op the reference lacks entirely (it has no joins at all —
SURVEY.md §2.1 tail note): correlate two event streams per key within a
time bound, e.g. every purchase joined to the views that preceded it by at
most 30 minutes. The batch twin (queries/streams.py:stream_interval_join)
builds the SAME logical plan over a static frame — equality of the two is
asserted in tests/test_streaming.py.

Execution model notes:
- both sides carry a watermark, and the join condition bounds view time to
  a window ending at the purchase time; together these bound the state
  store: a buffered view row is evictable once the view-side watermark
  passes ``its ts + 30 minutes`` (no unbounded buffering, the property
  that makes stream-stream joins runnable forever);
- inner interval joins emit eagerly on match (append mode) — no
  finalization wait, so a bounded (availableNow) run emits exactly the
  batch result;
- the equi-key (user_id) keeps the physical join a state-store hash
  lookup per key, never a cross-stream scan.
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

INTERVAL_MS = 30 * 60 * 1000


def interval_join_plan(events: DataFrame, *, how: str = "inner") -> DataFrame:
    """purchases ⋈ prior-30-min views per user over an events frame
    (static or streaming; ts as bigint ns as read with nanosAsLong).

    Output: (user_id, p_id, v_id) — one row per qualifying pair.

    ``how='left_outer'`` keeps purchases with no qualifying view
    (``v_id`` NULL). In streaming, an outer null can only be emitted once
    the view-side watermark has passed the purchase's interval — before
    that a matching view could still arrive — so a bounded run emits the
    nulls for finalized regions only (the trailing horizon stays open;
    asserted in tests/test_streaming.py). Inner results still emit
    eagerly.
    """
    ev = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_millis(ts_ms_expr(events)).alias("tts"),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("tts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("v_id"),
            F.col("tts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    cond = (
        (p.user_id == v.v_user)
        & (v.v_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (v.v_ts <= p.p_ts)
    )
    # full_outer additionally keeps views with no qualifying purchase
    # (p side all-NULL), so the output key must fall back to the view's
    # user. For inner/left_outer the left key is always present and the
    # plan is left byte-identical (no coalesce node).
    out_user = (
        F.coalesce(F.col("user_id"), F.col("v_user")).alias("user_id")
        if how == "full_outer"
        else F.col("user_id")
    )
    return p.join(v, cond, how).select(out_user, "p_id", "v_id")


def run_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    *,
    how: str = "inner",
    sink_dir: str | None = None,
) -> DataFrame:
    """Run the interval join with BOTH sides as bounded streams
    (availableNow) and return the emitted rows.

    Emitted pairs are row-proportional to the replayed events, so the
    sink choice is the scale axis (memory sink for fixtures, durable
    parquet via ``sink_dir`` / ``SPARK_GRAFT_STREAM_SINK_DIR`` for big
    replays) — see :func:`~.util.bounded_result`."""
    configure(spark)
    _, stream, n_state = static_and_stream(spark, sf_dir, glob)
    out = interval_join_plan(stream, how=how)
    return bounded_result(spark, out, "ssj", n_state=n_state, sink_dir=sink_dir)[0]
