"""Structured Streaming semantics: watermark drops late rows across
micro-batches (SURVEY.md §5.2.6 — no SQL oracle; behavior asserted by a
controlled two-batch injection)."""

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from multiomix_aws_emr_spark.streaming.watermark import run_watermarked_tumbling

_HOUR_MS = 3_600_000
_BASE = 1_704_067_200_000  # 2024-01-01T00:00:00Z in ms


def _write_events(path: str, rows: list[tuple[int, int, str, float]], mtime: float):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts_ms", "event_type", "value"]
    )
    table = pa.table(
        {
            "event_id": pa.array(pdf.event_id, pa.int64()),
            # engine reads ts as bigint ns (nanosAsLong) — write ns ints
            "ts": pa.array(pdf.ts_ms * 1_000_000, pa.int64()),
            "user_id": pa.array([1] * len(pdf), pa.int64()),
            "event_type": pa.array(pdf.event_type, pa.string()),
            "value": pa.array(pdf.value, pa.float64()),
            "props": pa.array(["{}"] * len(pdf), pa.string()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def three_batch_dir(tmp_path):
    """Spark's late-row filter deliberately lags one batch behind the
    eviction watermark (two-watermark design), so the late row is injected
    TWO batches after its window:

    - batch 1: events in hours 0..3 (max 03:30 -> eviction wm 02:30 next
      batch);
    - batch 2: on-time event at 04:00 (hour-0/1 windows evicted + emitted
      here; late-row wm becomes 02:30 for batch 3);
    - batch 3: one LATE event at 00:15 (< 02:30 -> DROPPED) plus an
      on-time event at 05:00.
    """
    now = time.time()
    batch1 = [
        (0, _BASE + 15 * 60_000, "click", 1.0),          # 00:15
        (1, _BASE + 30 * 60_000, "click", 2.0),          # 00:30
        (2, _BASE + 1 * _HOUR_MS + 600_000, "click", 3.0),   # 01:10
        (3, _BASE + 3 * _HOUR_MS + 30 * 60_000, "click", 4.0),  # 03:30
    ]
    batch2 = [(4, _BASE + 4 * _HOUR_MS, "click", 5.0)]   # 04:00
    batch3 = [
        (5, _BASE + 15 * 60_000, "click", 100.0),        # LATE: 00:15
        (6, _BASE + 5 * _HOUR_MS, "click", 6.0),         # 05:00
    ]
    _write_events(str(tmp_path / "b1.parquet"), batch1, now - 120)
    _write_events(str(tmp_path / "b2.parquet"), batch2, now - 60)
    _write_events(str(tmp_path / "b3.parquet"), batch3, now)
    return str(tmp_path)


def test_watermark_drops_late_rows(spark, three_batch_dir):
    out = run_watermarked_tumbling(spark, three_batch_dir, glob="*.parquet")
    rows = {r.window_start_ms: (r.n, r.sum_v) for r in out.collect()}

    # hour-0 window was finalized with its 2 on-time rows; the late row
    # (value 100.0) arriving in batch 3 must NOT appear anywhere.
    assert rows[_BASE] == (2, 3.0)
    assert all(v[1] < 100.0 for v in rows.values())
    # hour-1 window finalized once the watermark passed its end.
    assert rows[_BASE + _HOUR_MS] == (1, 3.0)
    # trailing windows are never finalized in append mode.
    assert _BASE + 5 * _HOUR_MS not in rows


def test_watermark_drop_count_from_progress_telemetry(spark, three_batch_dir):
    """The engine's own StreamingQueryProgress must account for exactly
    the one injected late row (numRowsDroppedByWatermark == 1) — asserting
    the drop from runtime telemetry, not just from absent output."""
    from multiomix_aws_emr_spark.streaming.watermark import (
        run_watermarked_tumbling_with_drop_count,
    )

    out, dropped = run_watermarked_tumbling_with_drop_count(
        spark, three_batch_dir, glob="*.parquet"
    )
    assert dropped == 1
    rows = {r.window_start_ms: (r.n, r.sum_v) for r in out.collect()}
    assert rows[_BASE] == (2, 3.0)  # late value 100.0 not re-admitted


def test_rate_source_smoke_runs_same_plan_unbounded(spark):
    """The watermarked plan must bind to the unbounded rate source (the
    kafka/kinesis stand-in): micro-batches flow, rows are ingested, and
    the event-time watermark advances."""
    from multiomix_aws_emr_spark.streaming.watermark import rate_source_smoke

    # The deadline is progress-based: we fail only if the stream reports
    # no NEW micro-batch progress for stall_timeout_sec — a slow host
    # under full-suite load keeps emitting (slow) progress events and we
    # keep waiting, while a genuinely wedged stream trips the stall clock.
    # hard_cap_sec bounds the alive-but-rowless case well under the 600s
    # default so a source problem fails in minutes, not ten.
    stats = rate_source_smoke(
        spark,
        rows_per_second=200,
        min_batches=2,
        stall_timeout_sec=90.0,
        hard_cap_sec=240.0,
    )
    assert stats["reason"] is None, (
        "stream wedged (no new micro-batch progress)"
        if stats["reason"] == "stalled"
        else "stream alive but ingested no rows before the hard cap"
    ) + f": {stats}"
    assert stats["input_rows"] > 0
    assert stats["batches"] >= 2
    assert stats["watermark_set"]


def test_declared_watermark_query_runs(spark, sf_dir):
    out = run_watermarked_tumbling(spark, sf_dir)
    assert out.count() > 0
    assert set(out.columns) == {"window_start_ms", "event_type", "n", "sum_v"}


def _write_user_events(path, rows, mtime):
    """rows: (event_id, user_id, value)"""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([_BASE * 1_000_000] * len(rows), pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    from multiomix_aws_emr_spark.streaming.stateful import run_running_totals

    now = time.time()
    # user 1 appears in both micro-batches: its state must carry over
    _write_user_events(
        str(tmp_path / "b1.parquet"), [(0, 1, 10.0), (1, 2, 5.0)], now - 60
    )
    _write_user_events(
        str(tmp_path / "b2.parquet"), [(2, 1, 7.0), (3, 3, 1.5)], now
    )
    out = run_running_totals(spark, str(tmp_path), glob="*.parquet")
    rows = out.collect()
    # the runner reduces the update-mode sink to the FINAL total per user
    # (one row each); user 1's n_events == 2 is only reachable if its
    # state carried over from batch 1 into batch 2
    totals = {r.user_id: (r.n_events, r.sum_value) for r in rows}
    assert len(rows) == len(totals) == 3
    assert totals[1] == (2, 17.0)  # accumulated across batches
    assert totals[2] == (1, 5.0)
    assert totals[3] == (1, 1.5)


def test_declared_stateful_query_matches_batch_totals(spark, sf_dir):
    from multiomix_aws_emr_spark.queries.registry import QUERIES

    out = QUERIES["stream_stateful_totals"](spark, sf_dir)
    got = {r.user_id: (r.n_events, r.sum_value) for r in out.collect()}

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    import pyspark.sql.functions as F

    exp = {
        r.user_id: (r.n, r.s)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("value").alias("c"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for u, (n, s) in exp.items():
        assert got[u][0] == n
        assert abs((got[u][1] or 0) - (s or 0)) < 1e-6


def test_stream_interval_join_matches_batch(spark, sf_dir):
    from multiomix_aws_emr_spark.sources.tables import load
    from multiomix_aws_emr_spark.streaming.join import (
        interval_join_plan,
        run_stream_interval_join,
    )

    batch = set(
        map(tuple, interval_join_plan(load(spark, sf_dir, "events")).collect())
    )
    streamed = set(map(tuple, run_stream_interval_join(spark, sf_dir).collect()))
    assert len(batch) > 0
    # inner interval joins emit eagerly: a bounded run is exactly the batch set
    assert streamed == batch


def test_stream_interval_join_left_outer_nulls(spark, sf_dir):
    from multiomix_aws_emr_spark.sources.tables import load
    from multiomix_aws_emr_spark.streaming.join import (
        interval_join_plan,
        run_stream_interval_join,
    )

    batch_inner = set(
        map(tuple, interval_join_plan(load(spark, sf_dir, "events")).collect())
    )
    matched_p = {p for (_, p, _) in batch_inner}
    out = run_stream_interval_join(spark, sf_dir, how="left_outer").collect()
    inner = {tuple(r) for r in out if r.v_id is not None}
    nulls = [r for r in out if r.v_id is None]
    # eager inner emission: identical to the batch inner join
    assert inner == batch_inner
    # outer nulls appear once the watermark finalizes their interval, and
    # only for purchases that truly had no qualifying view
    assert nulls
    assert all(r.p_id not in matched_p for r in nulls)
    # no purchase is emitted both matched and null
    assert not ({r.p_id for r in nulls} & matched_p)


def test_stream_sessions_subset_of_batch(spark, sf_dir):
    from multiomix_aws_emr_spark.queries import QUERIES

    streamed = QUERIES["stream_session_window"](spark, sf_dir)
    batch = QUERIES["window_sessionize"](spark, sf_dir)
    s_rows = set(map(tuple, streamed.collect()))
    b_rows = set(map(tuple, batch.collect()))
    assert s_rows, "bounded stream emitted no finalized sessions"
    assert s_rows <= b_rows, "streamed sessions disagree with batch"
    # the only batch sessions a bounded stream may miss are the trailing
    # ones the final watermark never passed
    missed = b_rows - s_rows
    if missed:
        final_wm = max(r[2] for r in s_rows)  # last emitted session end
        assert all(end >= final_wm - 3600000 for (_, _, end, _, _) in missed)


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """An event re-sent in a later micro-batch (same event_id, slightly
    later event time — at-least-once redelivery) must be counted once."""
    from multiomix_aws_emr_spark.streaming.dedup import run_streaming_dedup

    now = time.time()
    batch1 = [(1, _BASE + 60_000, "click", 1.0), (2, _BASE + 120_000, "click", 1.0)]
    batch2 = [
        (2, _BASE + 125_000, "click", 1.0),  # redelivery of event 2
        (3, _BASE + 240_000, "click", 1.0),
        (99, _BASE + 100 * _HOUR_MS, "click", 1.0),  # watermark pusher
    ]
    _write_events(str(tmp_path / "b1.parquet"), batch1, now - 60)
    _write_events(str(tmp_path / "b2.parquet"), batch2, now)
    out = run_streaming_dedup(spark, str(tmp_path), glob="*.parquet")
    got = {r.window_start_ms: r.n_unique for r in out.collect()}
    # events 1,2,3 land in the first hour window; the re-delivered copy
    # of event 2 must not double-count
    assert got[min(got)] == 3


def test_rollup_upsert_idempotent_double_run(spark, tmp_path):
    """Re-running the same bounded stream into the same table (fresh
    checkpoint — i.e. every batch replayed) must leave the table
    byte-identical: the dynamic-partition overwrite makes replays
    idempotent."""
    from multiomix_aws_emr_spark.streaming.upsert import run_rollup_upsert

    day_ms = 24 * _HOUR_MS
    now = time.time()
    b1 = [(1, _BASE + 60_000, "click", 1.5), (2, _BASE + day_ms, "view", 2.0)]
    b2 = [(3, _BASE + 90_000, "click", 3.0), (4, _BASE + 2 * day_ms, "view", 4.0)]
    src = tmp_path / "src"
    src.mkdir()
    _write_events(str(src / "b1.parquet"), b1, now - 60)
    _write_events(str(src / "b2.parquet"), b2, now)
    out = str(tmp_path / "rollup")
    first = run_rollup_upsert(spark, str(src), out, glob="b*.parquet")
    rows1 = sorted(map(tuple, first.collect()))
    second = run_rollup_upsert(spark, str(src), out, glob="b*.parquet")
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2
    # and the table equals the batch aggregate
    assert rows1 == [
        (_BASE - _BASE % day_ms, "click", 2, 4.5),
        ((_BASE + day_ms) - (_BASE + day_ms) % day_ms, "view", 1, 2.0),
        ((_BASE + 2 * day_ms) - (_BASE + 2 * day_ms) % day_ms, "view", 1, 4.0),
    ]


def test_bounded_state_partitions_restores_conf(spark):
    from multiomix_aws_emr_spark.streaming.util import bounded_state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    # no count given: the session's own count stays in force
    with bounded_state_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # restored even when the body raises
    try:
        with bounded_state_partitions(spark, 5):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_directory_layout_matches_single_file(spark, sf_dir, tmp_path):
    """static_and_stream dispatches on the table's physical layout: a
    directory-of-part-files events table (the layout every writer
    produces) must stream without crashing — regression for the
    pathGlobFilter-only readers, which died on directories with
    UNABLE_TO_INFER_SCHEMA — and a TIME-ORDERED directory (range-
    partitioned by ts, the layout a historical replay should use) must
    produce the SAME watermark-finalized result as the single-file
    fixture. A randomly-partitioned directory may legitimately emit a
    SUBSET: later part files deliver old events past the watermark and
    streaming semantics drop them."""
    from multiomix_aws_emr_spark.streaming.dedup import run_streaming_dedup

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    ordered_sf = tmp_path / "sf_ordered"
    ordered_sf.mkdir()
    src.repartitionByRange(4, "ts").write.parquet(
        str(ordered_sf / "events.parquet")
    )
    # FileStreamSource replays files in MODIFICATION-TIME order with
    # arbitrary tie-breaking; all four parts land within one mtime tick,
    # so stamp ascending mtimes along the range order (part-00000 holds
    # the smallest ts range) to make the replay order deterministic.
    parts = sorted(
        f
        for f in os.listdir(ordered_sf / "events.parquet")
        if f.endswith(".parquet")
    )
    base = time.time() - 1000
    for i, f in enumerate(parts):
        os.utime(ordered_sf / "events.parquet" / f, (base + i, base + i))
    scattered_sf = tmp_path / "sf_scattered"
    scattered_sf.mkdir()
    src.repartition(4).write.parquet(str(scattered_sf / "events.parquet"))

    single = sorted(map(tuple, run_streaming_dedup(spark, sf_dir).collect()))
    ordered = sorted(
        map(tuple, run_streaming_dedup(spark, str(ordered_sf)).collect())
    )
    scattered = sorted(
        map(tuple, run_streaming_dedup(spark, str(scattered_sf)).collect())
    )
    assert ordered == single
    assert len(ordered) > 0
    # dropped-late rows can only SHRINK a window's unique count
    single_counts = {(w, t): n for w, t, n in single}
    assert all(
        (w, t) in single_counts and n <= single_counts[(w, t)]
        for w, t, n in scattered
    )


def test_static_and_stream_state_sizing(spark, sf_dir, tmp_path, monkeypatch):
    """Single-file layout derives state instances from SOURCE BYTES (one
    per ~16 MB of parquet, floor 4, cap cores — r16); a 4-part directory
    sizes state to the part count floored at cores/4 and capped at the
    core count. Values are for the local[8] test session."""
    import os

    from multiomix_aws_emr_spark.streaming.util import static_and_stream

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    # the 2 MB sf0.1 events.parquet is under one 16 MB instance: floor 4
    assert static_and_stream(spark, sf01, "events.parquet")[2] == 4
    # 100 MiB -> ceil(100 / 16) = 7; 1 GiB -> 64, capped at the 8 cores
    for size, want in ((100 << 20, 7), (1 << 30, 8)):
        with monkeypatch.context() as m:
            m.setattr(os.path, "getsize", lambda _path, size=size: size)
            assert static_and_stream(spark, sf_dir, "events.parquet")[2] == want

    dir_sf = tmp_path / "sfdir2"
    dir_sf.mkdir()
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(100)
        .repartition(4)
        .write.parquet(str(dir_sf / "events.parquet"))
    )
    _, _, n_dir = static_and_stream(spark, str(dir_sf), "events.parquet")
    assert n_dir == 4


def test_stream_checkpoint_dir_skips_small_tmpfs(spark, monkeypatch):
    """Bounded-run checkpoints go to /dev/shm only when it has room: a
    Docker-default 64 MiB tmpfs falls back to the OS temp dir, 1 GiB free
    keeps the tmpfs."""
    import shutil
    import types

    from multiomix_aws_emr_spark.streaming.util import stream_checkpoint_dir

    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT_DIR", raising=False)
    for free, on_shm in ((64 << 20, False), (1 << 30, True)):
        stat = types.SimpleNamespace(f_bavail=free // 4096, f_frsize=4096)
        monkeypatch.setattr(os, "statvfs", lambda _path, stat=stat: stat)
        path = stream_checkpoint_dir(spark, "shm_guard")
        shutil.rmtree(path)
        assert path.startswith("/dev/shm/") is on_shm, path


def test_prewarm_streaming_runtime(spark, sf_dir):
    """The bench warm helper: runs a bounded stream end-to-end, restores
    the shuffle-partition conf, never raises (even on a bogus dir)."""
    from multiomix_aws_emr_spark.streaming.util import prewarm_streaming_runtime

    before = spark.conf.get("spark.sql.shuffle.partitions")
    prewarm_streaming_runtime(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # idempotent and failure-swallowing by contract
    prewarm_streaming_runtime(spark, sf_dir)
    prewarm_streaming_runtime(spark, "/nonexistent/sfdir")


def test_bounded_result_parquet_sink_matches_memory(spark, sf_dir, tmp_path):
    """The durable-sink path (the big-replay shape: emitted rows never
    touch driver heap) returns the same sessions as the memory-sink path."""
    from multiomix_aws_emr_spark.streaming.sessions import run_streaming_sessions

    mem = sorted(map(tuple, run_streaming_sessions(spark, sf_dir).collect()))
    parq = sorted(
        map(
            tuple,
            run_streaming_sessions(
                spark, sf_dir, sink_dir=str(tmp_path / "sink")
            ).collect(),
        )
    )
    assert mem == parq
    assert len(mem) > 0


def test_bounded_result_zero_commit_returns_empty(spark, tmp_path):
    """A bounded durable-sink stream that never commits a batch (empty
    source directory) returns an empty DataFrame of the plan's schema
    instead of raising PATH_NOT_FOUND — the parquet sink only creates its
    output directory at the first batch commit."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from multiomix_aws_emr_spark.streaming.util import bounded_result

    src = tmp_path / "empty_src"
    src.mkdir()
    schema = StructType([StructField("v", LongType())])
    plan = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .select((F.col("v") * 2).alias("v2"))
    )
    out, _ = bounded_result(
        spark, plan, "zero_commit", n_state=2, sink_dir=str(tmp_path / "sink")
    )
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["v2"]


def test_bounded_result_complete_mode_parquet_sink(spark, tmp_path):
    """Complete mode re-emits the whole table every batch, so the parquet
    sink keeps only the last one: a three-batch replay reads back the
    batch aggregate, not three stacked copies."""
    from multiomix_aws_emr_spark.streaming.util import bounded_result

    src = tmp_path / "src"
    spark.range(30).selectExpr("id % 3 AS k").repartition(3).write.parquet(str(src))
    plan = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .groupBy("k")
        .count()
    )
    out, progress = bounded_result(
        spark,
        plan,
        "complete_sink",
        n_state=2,
        mode="complete",
        sink_dir=str(tmp_path / "sink"),
    )
    assert len(progress) == 3
    assert sorted(map(tuple, out.collect())) == [(0, 10), (1, 10), (2, 10)]


def test_bounded_result_failure_sweeps_only_tmpfs(spark, tmp_path, monkeypatch):
    """A bounded run whose Python UDF raises re-raises the error. Its
    checkpoint is swept when it sits on /dev/shm (a kept one would hold RAM
    until reboot) and kept for diagnosis when the small-tmpfs guard puts it
    in the OS temp dir."""
    import shutil
    import tempfile
    import types

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from multiomix_aws_emr_spark.streaming.util import bounded_result

    def _fail(v):
        raise ValueError("injected udf failure")

    src = tmp_path / "src"
    spark.range(3).write.parquet(str(src))
    plan = (
        spark.readStream.schema("id bigint")
        .parquet(str(src))
        .select(F.udf(_fail, LongType())("id").alias("boom"))
    )
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT_DIR", raising=False)
    roots = ("/dev/shm", tempfile.gettempdir())

    def _left():
        return {
            os.path.join(r, e)
            for r in roots
            if os.path.isdir(r)
            for e in os.listdir(r)
            if e.startswith("ck_failing_")
        }

    for free, on_shm in ((1 << 30, True), (64 << 20, False)):
        if on_shm and not os.access("/dev/shm", os.W_OK):
            continue
        stat = types.SimpleNamespace(f_bavail=free // 4096, f_frsize=4096)
        monkeypatch.setattr(os, "statvfs", lambda _path, stat=stat: stat)
        before = _left()
        with pytest.raises(Exception, match="injected udf failure"):
            bounded_result(spark, plan, "failing", n_state=2)
        kept = _left() - before
        views = [t.name for t in spark.catalog.listTables()]
        assert not [v for v in views if v.startswith("failing_")]
        if on_shm:
            assert kept == set()
        else:
            assert len(kept) == 1 and not next(iter(kept)).startswith("/dev/shm/")
            shutil.rmtree(kept.pop())


def test_bounded_rocksdb_state_store_matches_default(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_STATE_STORE=rocksdb flips the state-store provider for
    bounded runs (the off-heap path for state that outgrows the local
    heap) without changing results, and the conf is restored afterwards."""
    from multiomix_aws_emr_spark.streaming.dedup import run_streaming_dedup
    from multiomix_aws_emr_spark.streaming.util import _PROVIDER_CONF

    default = sorted(map(tuple, run_streaming_dedup(spark, sf_dir).collect()))
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    rocks = sorted(map(tuple, run_streaming_dedup(spark, sf_dir).collect()))
    assert default == rocks
    assert len(rocks) > 0
    assert spark.conf.get(_PROVIDER_CONF, None) is None


def test_running_totals_foreachbatch_sink_matches_memory(spark, sf_dir, tmp_path):
    """Update-mode output can't use a file sink, so the big-replay path is
    foreachBatch append; the reduced totals must match the memory path."""
    from multiomix_aws_emr_spark.streaming.stateful import run_running_totals

    mem = sorted(map(tuple, run_running_totals(spark, sf_dir).collect()))
    fb = sorted(
        map(
            tuple,
            run_running_totals(
                spark, sf_dir, sink_dir=str(tmp_path / "stsink")
            ).collect(),
        )
    )
    assert mem == fb
    assert len(mem) > 0


def test_stream_checkpoint_dir_master_aware(spark, monkeypatch):
    """checkpointLocation provisioning mirrors the fixpoint-checkpoint
    posture: env root wins (unique subdir under it, URI-safe), local
    masters get a temp dir, non-local masters without a root refuse
    loudly (state-store files are executor-written; a driver-local path
    silently mislocates them on a fleet)."""
    import os

    from multiomix_aws_emr_spark.streaming.util import (
        cleanup_stream_checkpoint,
        stream_checkpoint_dir,
    )

    # env root wins regardless of master, unique per call
    monkeypatch.setenv(
        "SPARK_GRAFT_STREAM_CKPT_DIR", "s3a://bucket/ckpts/"
    )
    a = stream_checkpoint_dir(spark, "ck_x")
    b = stream_checkpoint_dir(spark, "ck_x")
    assert a.startswith("s3a://bucket/ckpts/ck_x_") and a != b
    # URI without a session handle: no sweep possible, must be a no-op
    cleanup_stream_checkpoint(a)
    # URI with a handle but no connector/credentials: best-effort, must
    # not raise (the owner's TTL janitor is the backstop)
    cleanup_stream_checkpoint(a, spark)

    # URI over a filesystem the JVM CAN reach (file://): the per-run
    # subdir is actually deleted via the Hadoop FileSystem API — the
    # delete-on-success policy survives a durable root (ADVICE r10)
    import tempfile as _tf

    local_root = _tf.mkdtemp(prefix="ckroot_")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", f"file://{local_root}")
    c = stream_checkpoint_dir(spark, "ck_uri")
    c_local = c[len("file://"):]
    os.makedirs(c_local, exist_ok=True)
    assert os.path.isdir(c_local)
    cleanup_stream_checkpoint(c, spark)
    assert not os.path.exists(c_local)

    # local master: temp dir, swept by cleanup
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT_DIR")
    d = stream_checkpoint_dir(spark, "ck_y")
    assert os.path.isdir(d)
    cleanup_stream_checkpoint(d)
    assert not os.path.exists(d)

    # non-local master without a root: refuse with the recipe
    class _SC:
        master = "k8s://https://fleet:6443"

    class _S:
        sparkContext = _SC()

    import pytest

    with pytest.raises(RuntimeError, match="SPARK_GRAFT_STREAM_CKPT_DIR"):
        stream_checkpoint_dir(_S(), "ck_z")
