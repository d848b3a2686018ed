"""Continuous transactional dedup ingest: Structured Streaming micro-
batches committed through the manifest store (operators/ingest.py).

This closes the rolling-corpus loop end-to-end: documents ARRIVE as a
stream, every micro-batch runs one atomic ``ingest_batch`` (assign
against the index-so-far, persist assignments, upsert index +
membership, manifest publish) inside ``foreachBatch``, keyed by the
STREAMING batch id. Exactly-once falls out of composing two
at-least-once halves, the same way streaming/upsert.py's
dynamic-partition-overwrite rollup gets it:

- Structured Streaming's offset/commit logs replay an in-flight
  micro-batch after a crash WITH THE SAME batch id;
- the store's replay rule returns a committed batch's stored result
  without writing (operators/ingest.ingest_batch), so the replayed
  micro-batch is a read, not a second commit.

A kill anywhere therefore converges on restart (asserted by
tests/test_ingest_txn.py's stream kill + two-phase-arrival tests), and
the maintained index equals the from-scratch build over everything
ingested — the oracle-checkable invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multiomix_aws_emr_spark.streaming.util import bounded_result


def run_stream_ingest(
    spark: SparkSession,
    root: str,
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
    **params,
) -> DataFrame:
    """Run a bounded (availableNow) streaming ingest of ``stream`` into
    the dedup store at ``root`` and return every committed assignment.

    ``checkpoint``: pass a caller-owned checkpointLocation to make the
    run RESUMABLE (crash-restart and late-arrival continuation — the
    production shape); by default a per-run checkpoint is provisioned
    and swept on success (the bounded-runner policy). Empty micro-batches
    commit nothing (no store version burned).

    Runs with ``n_state=None`` (the session's partition count): the stream
    side is a stateless passthrough into ``foreachBatch`` (no streaming
    aggregate, no state-store instances to right-size), and the work
    that DOES shuffle — each micro-batch's sketch build and index join —
    runs as ordinary batch jobs that should execute at the session's
    (possibly rule-2-hinted) sizing, which a state-partition override
    would silently defeat."""
    from multiomix_aws_emr_spark.operators.ingest import (
        ingest_batch,
        read_all_assignments,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col)
        if batch.isEmpty():
            return
        ingest_batch(
            spark,
            root,
            batch,
            batch_id=f"sb{batch_id:06d}",
            id_col=id_col,
            text_col=text_col,
            **params,
        )

    bounded_result(
        spark,
        stream,
        "ingest",
        n_state=None,
        for_each_batch=_ingest,
        checkpoint=checkpoint,
    )
    return read_all_assignments(spark, root)
