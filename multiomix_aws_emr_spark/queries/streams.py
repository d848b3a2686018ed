"""Time-window aggregations: tumbling, sliding, session (batch-equivalent
declared queries) and a true Structured Streaming watermark run.

The batch forms use the exact operators Structured Streaming uses
(``F.window`` / ``F.session_window``), so the same logical plan runs over
``readStream`` unchanged — see streaming/watermark.py for the streaming
execution with late-row dropping.

Timestamps: events.ts is ns; everything standardizes on ``ts_ms`` and
rebuilds a timestamp with ``timestamp_millis`` (UTC session) so window
boundaries agree with DuckDB's ``time_bucket`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.queries.registry import query
from multiomix_aws_emr_spark.sources.tables import events_v, with_events_v, ts_ms_expr


@query(
    "stream_tumbling",
    oracle=(
        "SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms, "
        "event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v "
        "FROM events GROUP BY 1, 2"
    ),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count+sum per event_type (closure: streaming surface).
    Plain hash aggregate on (bucket, type) — the batch twin of a watermarked
    streaming aggregation."""
    ev = events_v(spark, sf_dir).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.groupBy(F.window("tts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "n",
            "sum_v",
        )
    )


@query(
    "stream_sliding",
    oracle=(
        "WITH b AS (SELECT epoch_ms(time_bucket(INTERVAL 30 MINUTE, ts)) AS b0, "
        "value FROM events) "
        "SELECT ws AS window_start_ms, COUNT(*) AS n FROM ("
        "SELECT b0 AS ws, value FROM b "
        "UNION ALL SELECT b0 - 1800000 AS ws, value FROM b) GROUP BY ws"
    ),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in exactly 2
    windows [start, start+1h). Spark expands the slide internally; the
    oracle reproduces it as a union of two shifted bucketings."""
    ev = events_v(spark, sf_dir).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.groupBy(F.window("tts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("window_start_ms"), "n")
    )


@query(
    "stream_session",
    oracle=with_events_v(
        "SELECT user_id, MIN(ts_ms) AS session_start_ms, COUNT(*) AS n_events "
        "FROM ("
        "  SELECT user_id, ts_ms, SUM(new_s) OVER "
        "    (PARTITION BY user_id ORDER BY ts_ms, event_id "
        "     ROWS UNBOUNDED PRECEDING) AS sid "
        "  FROM ("
        "    SELECT user_id, ts_ms, event_id, "
        "      CASE WHEN ts_ms - LAG(ts_ms) OVER "
        "        (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000 "
        "      THEN 1 ELSE 0 END AS new_s FROM events_v) o"
        ") s GROUP BY user_id, sid"
    ),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap, via Spark's
    native ``session_window``. The oracle is the relational gaps-and-islands
    formulation; session end is intentionally not emitted (Spark defines
    end = last_ts + gap, SQL as max ts — SURVEY.md Appendix A note)."""
    ev = events_v(spark, sf_dir).withColumn("tts", F.timestamp_millis("ts_ms"))
    return (
        ev.groupBy(F.session_window("tts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("sw.start").alias("session_start_ms"),
            "n_events",
        )
    )


_LATEDROP_ORACLE = with_events_v(
    "SELECT (ts_ms // 3600000) * 3600000 AS window_start_ms, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_v "
    "FROM events_v GROUP BY 1, 2 "
    "HAVING window_start_ms + 3600000 <= "
    "(SELECT MAX(ts_ms) - 3600000 FROM events_v)"
)


@query("stream_watermark_latedrop", oracle=_LATEDROP_ORACLE)
def stream_watermark_latedrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming run over the events parquet: 1-hour
    watermark + tumbling aggregate, append mode — only watermark-finalized
    windows are emitted. The finalized subset is DETERMINISTIC for a
    bounded run (final watermark = max event time - 1h), so the ORACLE is
    the batch hourly aggregate restricted to windows ending at or before
    that watermark — append-mode emission semantics, hash-checked.
    Late-row dropping itself is exercised with a controlled two-batch
    injection in tests/test_streaming.py."""
    from multiomix_aws_emr_spark.streaming.watermark import (
        run_watermarked_tumbling,
    )

    return run_watermarked_tumbling(spark, sf_dir)


@query(
    "stream_stateful_totals",
    oracle=with_events_v(
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "ROUND(SUM(value), 2) AS sum_value FROM events_v GROUP BY user_id"
    ),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals carried by the state store across
    micro-batches, update output mode. The bounded availableNow run's
    final update per user must equal the plain batch groupBy — which is
    the ORACLE, so the stateful path is hash-checked (rounding happens
    JVM-side after the UDF; multi-batch state carry-over is separately
    exercised with a two-batch injection in tests/test_streaming.py)."""
    from multiomix_aws_emr_spark.streaming.stateful import run_running_totals

    return run_running_totals(spark, sf_dir)


@query(
    "stream_interval_join",
    oracle=with_events_v(
        "SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id "
        "FROM events_v p JOIN events_v v ON p.user_id = v.user_id "
        "AND p.event_type = 'purchase' AND v.event_type = 'view' "
        "AND v.ts_ms BETWEEN p.ts_ms - 1800000 AND p.ts_ms"
    ),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join, batch twin: every purchase joined to the views of the
    same user in the preceding 30 minutes. The IDENTICAL logical plan runs
    as a watermarked stream-stream join (streaming/join.py — watermarks are
    a no-op in batch); physically an equi-join on user_id with the time
    bound as a post-join range filter, so it shuffles on the key, never
    cross-scans."""
    from multiomix_aws_emr_spark.sources.tables import load
    from multiomix_aws_emr_spark.streaming.join import interval_join_plan

    return interval_join_plan(load(spark, sf_dir, "events"))


_STREAM_SESSION_ORACLE = with_events_v(
    "SELECT user_id, MIN(ts_ms) AS session_start_ms, "
    "MAX(ts_ms) + 1800000 AS session_end_ms, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "ROUND(SUM(value), 2) AS sum_value "
    "FROM ("
    "  SELECT user_id, ts_ms, value, SUM(new_s) OVER "
    "    (PARTITION BY user_id ORDER BY ts_ms, event_id "
    "     ROWS UNBOUNDED PRECEDING) AS sid "
    "  FROM ("
    "    SELECT user_id, ts_ms, value, event_id, "
    "      CASE WHEN ts_ms - LAG(ts_ms) OVER "
    "        (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000 "
    "      THEN 1 ELSE 0 END AS new_s FROM events_v) o"
    ") s GROUP BY user_id, sid "
    "HAVING MAX(ts_ms) + 1800000 <= "
    "(SELECT MAX(ts_ms) - 3600000 FROM events_v)"
)


@query("stream_session_window", oracle=_STREAM_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: the SAME session_window aggregate as the
    batch sessionize query run as a watermarked stream (1h watermark,
    append mode). A session finalizes when the watermark passes its end
    (last event + 30-min gap), and the bounded run's final watermark is
    max event time - 1h — so the ORACLE is the gaps-and-islands batch
    sessionization restricted to sessions ending at or before that
    watermark. State is bounded by watermark horizon x active users."""
    from multiomix_aws_emr_spark.streaming.sessions import run_streaming_sessions

    return run_streaming_sessions(spark, sf_dir)


_STREAM_DEDUP_ORACLE = with_events_v(
    "SELECT (ts_ms // 3600000) * 3600000 AS window_start_ms, event_type, "
    "CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique "
    "FROM events_v GROUP BY 1, 2 "
    "HAVING window_start_ms + 3600000 <= "
    "(SELECT MAX(ts_ms) - 3600000 FROM events_v)"
)


@query("stream_dedup_watermark", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on event_id
    (state bounded by the watermark horizon — the scale-correct form;
    plain streaming dropDuplicates grows state forever), then hourly
    unique counts in append mode. ORACLE: batch hourly DISTINCT event_id
    counts over the same finalized-window subset (window end <= final
    watermark). Re-delivery suppression is exercised with controlled
    duplicate injection in tests/test_streaming.py."""
    from multiomix_aws_emr_spark.streaming.dedup import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


_ROLLUP_UPSERT_ORACLE = (
    "WITH events_v AS (SELECT epoch_ms(ts) AS ts_ms, event_type, value "
    "FROM events) "
    "SELECT (ts_ms // 86400000) * 86400000 AS window_start_ms, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value "
    "FROM events_v GROUP BY 1, 2"
)


@query("stream_rollup_upsert", oracle=_ROLLUP_UPSERT_ORACLE)
def stream_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rollup TABLE: an update-mode daily
    aggregate streamed through foreachBatch with dynamic-partition
    overwrite (streaming/upsert.py) — each batch rewrites exactly the
    (window, type) partitions it changed, so replays are idempotent and
    the at-least-once stream yields an exactly-once table. The ORACLE is
    the plain batch aggregate over all events: after the bounded run the
    maintained table must equal it row for row — the strongest check a
    streaming sink can get."""
    import shutil

    from multiomix_aws_emr_spark.queries.formats import _scratch
    from multiomix_aws_emr_spark.streaming.upsert import run_rollup_upsert

    out_dir = _scratch(sf_dir, "rollup_upsert")
    # fresh table per declared-query run: dynamic overwrite rewrites only
    # the partitions a batch touches, so a layout change (or any stale
    # partitions from prior runs) would otherwise leak into the result
    shutil.rmtree(out_dir, ignore_errors=True)
    return run_rollup_upsert(spark, sf_dir, out_dir)


_SEGMENTS = [(i, f"segment_{i}") for i in range(5)]
_SEG_VALUES = ", ".join(f"({i}, '{n}')" for i, n in _SEGMENTS)

_STREAM_STATIC_ORACLE = (
    "WITH events_v AS (SELECT epoch_ms(ts) AS ts_ms, user_id, value "
    "FROM events), "
    f"seg AS (SELECT * FROM (VALUES {_SEG_VALUES}) AS v(bucket, segment)) "
    "SELECT s.segment, CAST(COUNT(*) AS BIGINT) AS n, "
    "ROUND(SUM(e.value), 2) AS sum_value "
    "FROM events_v e JOIN seg s ON e.user_id % 5 = s.bucket "
    "GROUP BY s.segment"
)


@query("stream_static_join", oracle=_STREAM_STATIC_ORACLE)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (user-bucket -> segment) and aggregates per segment — the
    everyday streaming pattern (facts enriched against a slowly-changing
    dim loaded as a plain DataFrame; the static side broadcasts into
    every micro-batch, no stream state). Complete-mode aggregate over a
    bounded availableNow run must equal the batch join — which is the
    oracle, so this streaming query is hash-checked, not rows-only."""
    from multiomix_aws_emr_spark.session import configure
    from multiomix_aws_emr_spark.streaming.util import (
        bounded_result,
        static_and_stream,
    )

    configure(spark)
    static_dim = spark.createDataFrame(_SEGMENTS, "bucket int, segment string")
    _, stream, n_state = static_and_stream(spark, sf_dir, "events.parquet")
    ev = stream.select(
        ts_ms_expr(stream).alias("ts_ms"), "user_id", "value"
    )
    joined = ev.join(
        F.broadcast(static_dim), ev.user_id % 5 == static_dim.bucket
    )
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return bounded_result(
        spark, agg, "streamstatic", n_state=n_state, mode="complete"
    )[0]


_OUTER_JOIN_ORACLE = with_events_v(
    "SELECT user_id, p_id, v_id FROM ("
    "  WITH p AS (SELECT user_id, event_id AS p_id, ts_ms AS p_ts "
    "             FROM events_v WHERE event_type = 'purchase'), "
    "       v AS (SELECT user_id, event_id AS v_id, ts_ms AS v_ts "
    "             FROM events_v WHERE event_type = 'view'), "
    "       wm AS (SELECT LEAST((SELECT MAX(p_ts) FROM p), "
    "                           (SELECT MAX(v_ts) FROM v)) - 3600000 AS w) "
    "  SELECT p.user_id, p.p_id, v.v_id FROM p JOIN v "
    "    ON p.user_id = v.user_id "
    "   AND v.v_ts BETWEEN p.p_ts - 1800000 AND p.p_ts "
    "  UNION ALL "
    "  SELECT p.user_id, p.p_id, CAST(NULL AS BIGINT) FROM p "
    "  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id "
    "        AND v.v_ts BETWEEN p.p_ts - 1800000 AND p.p_ts) "
    "    AND p.p_ts < (SELECT w FROM wm)"
    ")"
)


_FULL_JOIN_ORACLE = with_events_v(
    "SELECT user_id, p_id, v_id FROM ("
    "  WITH p AS (SELECT user_id, event_id AS p_id, ts_ms AS p_ts "
    "             FROM events_v WHERE event_type = 'purchase'), "
    "       v AS (SELECT user_id, event_id AS v_id, ts_ms AS v_ts "
    "             FROM events_v WHERE event_type = 'view'), "
    "       wm AS (SELECT LEAST((SELECT MAX(p_ts) FROM p), "
    "                           (SELECT MAX(v_ts) FROM v)) - 3600000 AS w) "
    "  SELECT p.user_id, p.p_id, v.v_id FROM p JOIN v "
    "    ON p.user_id = v.user_id "
    "   AND v.v_ts BETWEEN p.p_ts - 1800000 AND p.p_ts "
    "  UNION ALL "
    "  SELECT p.user_id, p.p_id, CAST(NULL AS BIGINT) FROM p "
    "  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id "
    "        AND v.v_ts BETWEEN p.p_ts - 1800000 AND p.p_ts) "
    "    AND p.p_ts < (SELECT w FROM wm) "
    "  UNION ALL "
    "  SELECT v.user_id, CAST(NULL AS BIGINT), v.v_id FROM v "
    "  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id "
    "        AND v.v_ts BETWEEN p.p_ts - 1800000 AND p.p_ts) "
    "    AND v.v_ts + 1800000 < (SELECT w FROM wm)"
    ")"
)


@query("stream_interval_join_full", oracle=_FULL_JOIN_ORACLE)
def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming FULL-outer interval join (both sides readStream,
    availableNow) — completes the join-mode family (inner / left_outer /
    full_outer) over the same watermarked plan. Matches emit eagerly;
    each side's unmatched row emits its NULL partner only once the state
    can prove no qualifying match can still arrive, and the two sides
    finalize at DIFFERENT horizons, which is the interesting semantics:
    a purchase matches views in ``[p_ts - 30min, p_ts]``, so it
    finalizes when the global watermark (min of both sides' max event
    time minus the 1h delay) passes ``p_ts``; a view matches purchases
    in ``[v_ts, v_ts + 30min]``, so it finalizes only when the
    watermark passes ``v_ts + 30min``. The ORACLE is the batch full
    join with exactly those two cutoffs applied to the respective
    unmatched sides (matched pairs unconditional; NULL-view rows for
    ``p_ts < w``; NULL-purchase rows for ``v_ts + 30min < w``) —
    verified against the engine's emitted set, not assumed. State stays
    bounded by watermark horizon x key cardinality on both buffers."""
    from multiomix_aws_emr_spark.streaming.join import run_stream_interval_join

    return run_stream_interval_join(spark, sf_dir, how="full_outer")


@query("stream_interval_join_outer", oracle=_OUTER_JOIN_ORACLE)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming left-outer interval join (both sides readStream,
    availableNow): matches emit eagerly; a purchase with no qualifying
    view emits its NULL row only once the join state can prove no late
    view can still arrive. That proof point is deterministic for a
    bounded run — the global watermark is the MIN over both sides' max
    event time minus the 1h delay (each side carries its own watermark
    node), and the left row finalizes when its timestamp falls below it.
    The ORACLE is the batch left join with exactly that cutoff applied
    to the unmatched side: matched pairs unconditionally, nulls only in
    the finalized region. State stays bounded by watermark horizon x
    key cardinality — the property that lets this run forever."""
    from multiomix_aws_emr_spark.streaming.join import run_stream_interval_join

    return run_stream_interval_join(spark, sf_dir, how="left_outer")
