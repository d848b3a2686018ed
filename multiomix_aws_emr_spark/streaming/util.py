"""Shared helpers for the bounded streaming runners.

``bounded_state_partitions`` right-sizes ``spark.sql.shuffle.partitions``
for the lifetime of a BOUNDED streaming run. Stateful streaming stages get
no AQE: the partition count chosen at first checkpoint creation is the
state-store instance count forever, and every micro-batch pays a fixed
per-instance cost (store open, version commit, delta file) regardless of
data volume. For a bounded replay of one fixture file, running 32 state
partitions is pure overhead — measured 5.6s -> 2.3s warm on the
stream-stream interval join at sf0.1 by dropping to 8. Production streams
size this deliberately by throughput x key cardinality (it cannot be
changed after the checkpoint exists); these bounded runs size it to the
replayed volume the same way. The previous conf value is restored on exit
so batch queries keep their own sizing.
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from multiomix_aws_emr_spark.session import scoped_confs


#: /dev/shm holds a bounded run's checkpoint only with this much free: one
#: run's state reaches ~66 MB, so Docker's default 64 MiB tmpfs hits ENOSPC.
_SHM_MIN_FREE_BYTES = 256 << 20


def stream_checkpoint_dir(spark: SparkSession, prefix: str) -> str:
    """A ``checkpointLocation`` every node of the session's topology can
    reach.

    Structured Streaming's offset/commit logs are driver-written, but
    the STATE STORE files under ``<ckpt>/state`` are written and
    re-read by EXECUTORS — a driver-local temp path silently mislocates
    state on a multi-node master (the same degradation class
    ``operators/checkpointing._ensure_checkpoint_dir`` guards the
    fixpoint cut against). Resolution order:
    ``SPARK_GRAFT_STREAM_CKPT_DIR`` (a durable shared root — HDFS/S3 on
    a fleet; a unique per-run subdir under it is returned), else a
    driver-local temp dir when the master is local/local-cluster
    (same host — shared by construction), else raise with the recipe.

    Lifecycle: :func:`bounded_result` is the one sweep site. It deletes
    the per-run subdir on success (``cleanup_stream_checkpoint`` with the
    session handle — Hadoop-FS delete for URI roots) and KEEPS it on
    failure for diagnosis, except under ``/dev/shm/``, where a kept
    checkpoint would hold RAM until reboot, so a failed run sweeps it
    there too. :func:`prewarm_streaming_runtime` sweeps unconditionally:
    its 5-row throwaway stream swallows failures by design, so there is
    nothing to diagnose. The durable root's owner should still attach a
    TTL/janitor policy (e.g. an S3 lifecycle rule on the prefix): failure
    leftovers and runs killed before cleanup are the owner's to expire.

    Local-master medium (r16, guide §6): with no durable root set, the
    per-run checkpoint is provisioned on the fastest writable local
    medium — ``/dev/shm`` when present with at least
    ``_SHM_MIN_FREE_BYTES`` free, else the OS tmpdir. A bounded
    run's auto-provisioned checkpoint is swept on success and has no
    recovery value past the run (resumable runs pass a caller-owned
    ``checkpointLocation`` instead), but its offset/commit-log and
    state-store writes are all fsync'd small files — measured 2.3 ms
    vs 0.04 ms per 50 KB write+fsync disk-vs-tmpfs on this host, worth
    ~0.2-0.3 s per bounded streaming query. Big LOCAL replays whose
    state outgrows RAM should set ``SPARK_GRAFT_STREAM_CKPT_DIR`` to a
    disk path (the 1000x replay recipe already does).
    """
    root = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if not root:
        from multiomix_aws_emr_spark.session import is_local_master

        if is_local_master(spark.sparkContext.master):
            import tempfile

            shm = "/dev/shm"
            if os.path.isdir(shm) and os.access(shm, os.W_OK):
                st = os.statvfs(shm)
                if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
                    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=shm)
            return tempfile.mkdtemp(prefix=f"{prefix}_")
    from multiomix_aws_emr_spark.session import shared_scratch_dir

    return shared_scratch_dir(
        spark,
        prefix,
        env_var="SPARK_GRAFT_STREAM_CKPT_DIR",
        what="streaming checkpointLocation",
    )


def cleanup_stream_checkpoint(path: str, spark: SparkSession | None = None) -> None:
    """Best-effort removal of a per-run checkpoint dir.

    Local paths sweep via shutil. A ``://`` URI (a per-run subdir under
    the ``SPARK_GRAFT_STREAM_CKPT_DIR`` durable root) is swept through
    the JVM Hadoop FileSystem API when ``spark`` is provided — without
    it the delete-on-success policy would silently stop at the first
    fleet run and accumulate state-store deltas under the durable root
    (ADVICE r10). Still best-effort: a missing connector/credentials
    leaves the dir for the root owner's TTL janitor (the documented
    backstop — see :func:`stream_checkpoint_dir`)."""
    import shutil

    if "://" in path:
        if spark is None:
            return
        try:
            jvm = spark.sparkContext._jvm
            jsc = spark.sparkContext._jsc
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception:
            pass  # no connector/credentials: owner's TTL janitor sweeps
        return
    shutil.rmtree(path, ignore_errors=True)

#: bytes of source data per micro-batch for bounded directory replays.
#: In-flight stateful-operator state is proportional to the rows of the
#: CURRENT micro-batch (the watermark only advances between batches, so
#: nothing is evicted mid-batch): the fixture-tuned "~4 micro-batches"
#: rule made a 1000x events replay process 25M rows (≈200 MB of parquet)
#: per batch, whose session/dedup state OOM'd an 8 GB local heap. Capping
#: the batch by SOURCE BYTES bounds in-flight state regardless of replay
#: volume — the same rule a production stream gets from its arrival rate.
_BATCH_TARGET_BYTES = 64 << 20


def prewarm_streaming_runtime(spark: SparkSession, sf_dir: str) -> None:
    """Pay the Structured Streaming engine's first-run cost on a bounded
    stream over the 5-row ``region`` table so it lands here instead of
    in the first measured streaming query.

    The first streaming run of a session is ~2-3.5x its steady-state
    wall (measured at sf0.1: 5.3 s first vs 1.5-1.7 s repeats of the
    SAME shape; first-batch addBatch 1801 ms vs 425-512 ms warm):
    micro-batch engine classes, offset/commit log machinery, the
    HDFS-backed state store, and the streaming codegen paths all
    initialize once per session. This run exercises exactly that set —
    file-stream source, event-time watermark, stateful windowed
    aggregate, state-store commit, memory sink, availableNow
    termination — reusing an existing fixture file (the session's first
    parquet WRITE costs ~10 s of committer/output-path init on its own,
    so the warm deliberately writes nothing). Failures are swallowed:
    a pre-warm must never break the caller.
    """
    from pyspark.sql import functions as F

    try:
        _, stream, _ = static_and_stream(spark, sf_dir, "region.parquet")
        out = (
            stream.select(
                F.timestamp_millis(F.col("r_regionkey") * 1000).alias("tts")
            )
            .withWatermark("tts", "0 seconds")
            .groupBy(F.window("tts", "1 second"))
            .count()
        )
        ckpt = stream_checkpoint_dir(spark, "prewarm_ck")
        try:
            with bounded_state_partitions(spark, 2):
                q = (
                    out.writeStream.format("memory")
                    .queryName(f"prewarm_{uuid.uuid4().hex[:8]}")
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                # Bounded wait: the docstring promise is that a pre-warm
                # can never break the caller, and an unbounded
                # awaitTermination() would turn a wedged streaming engine
                # into a hang (exceptions are swallowed below; hangs would
                # not be). The 5-row replay finishes in single-digit
                # seconds; on timeout stop and move on — best-effort.
                if not q.awaitTermination(60):
                    q.stop()
        finally:
            cleanup_stream_checkpoint(ckpt, spark)
    except Exception:
        pass


#: RocksDB state store provider: off-heap, disk-backed state. The default
#: HDFS-backed provider keeps every state row as JVM heap objects — right
#: for fixture replays (no per-partition store-open cost), wrong once
#: state outgrows the heap (the local 1000x events replay holds ALL state
#: partitions in ONE JVM; a real cluster spreads them across executors,
#: so per-executor state is what production sizes against). Set
#: ``SPARK_GRAFT_STATE_STORE=rocksdb`` for big bounded replays.
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def bounded_state_partitions(spark: SparkSession, n: int | None = None):
    """Scope the shuffle/state partition count (``None`` keeps the
    session's) and, when ``SPARK_GRAFT_STATE_STORE=rocksdb``, the
    state-store provider to a bounded stream run."""
    confs = {} if n is None else {"spark.sql.shuffle.partitions": str(n)}
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        confs[_PROVIDER_CONF] = _ROCKSDB_PROVIDER
    return scoped_confs(spark, confs)


def await_bounded(q, what: str = "bounded streaming run") -> None:
    """Wait for a bounded (availableNow) streaming query to actually
    terminate.

    ``awaitTermination(120)`` looked like a safety cap but was a silent
    truncation: on timeout it returns ``False`` with the query STILL
    RUNNING, so the caller reads a partial memory table while the run
    keeps consuming the session's cores in the background (observed on
    the 1000x events replay). Bounded runs are finite by construction, so
    wait for real termination; the guard (``SPARK_GRAFT_STREAM_TIMEOUT``
    seconds, default 600 — fixture replays finish in single-digit
    seconds) STOPS the query and raises instead of returning a partial,
    racing result.
    """
    timeout_s = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "600"))
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what} still running after {timeout_s}s "
            "(raise SPARK_GRAFT_STREAM_TIMEOUT for big replays)"
        )


def bounded_result(
    spark: SparkSession,
    plan,
    name_prefix: str,
    *,
    n_state: int | None,
    mode: str = "append",
    sink_dir: str | None = None,
    for_each_batch=None,
    checkpoint: str | None = None,
):
    """Run ``plan`` as a bounded (availableNow) stream named
    ``<name_prefix>_<8 hex>`` and return ``(result, recentProgress)``.

    The run is scoped to :func:`bounded_state_partitions` with
    ``n_state`` (``None`` keeps the session's count) and waits through
    :func:`await_bounded`. Sinks, in order:

    - ``for_each_batch``: the callback owns the output; result is None.
    - ``sink_dir`` (or ``SPARK_GRAFT_STREAM_SINK_DIR``): each batch is
      written as parquet under ``<sink_dir>/<name>`` through foreachBatch
      — file sinks reject update and complete mode — and read back
      lazily. Complete mode overwrites, since each of its batches is the
      whole table. Big replays need this: the memory sink materializes
      every emitted row on the driver heap (the 1000x events replay emits
      ~100M sessions — OOM before the first batch commits).
    - else the memory sink; its temp view is dropped once the frame is
      captured (the frame still reads the sink).

    ``checkpoint`` is a caller-owned resume handle and is never touched.
    Otherwise a per-run checkpoint is provisioned and swept as
    :func:`stream_checkpoint_dir` describes: on success, and on failure
    only under ``/dev/shm/``.
    """
    sink_dir = sink_dir or os.environ.get("SPARK_GRAFT_STREAM_SINK_DIR") or None
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or stream_checkpoint_dir(spark, f"ck_{name}")
    out_path = None
    if for_each_batch is None and sink_dir is not None:
        out_path = os.path.join(sink_dir, name)
        write_mode = "overwrite" if mode == "complete" else "append"

        def for_each_batch(batch_df, batch_id: int) -> None:
            batch_df.write.mode(write_mode).parquet(out_path)

    try:
        with bounded_state_partitions(spark, n_state):
            w = (
                plan.writeStream.queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
            if for_each_batch is None:
                w = w.format("memory")
            else:
                w = w.foreachBatch(for_each_batch)
            q = w.start()
            await_bounded(q, name)
    except BaseException:
        spark.catalog.dropTempView(name)
        if checkpoint is None and ckpt.startswith("/dev/shm/"):
            cleanup_stream_checkpoint(ckpt)
        raise
    if checkpoint is None:
        cleanup_stream_checkpoint(ckpt, spark)
    if for_each_batch is None:
        result = spark.table(name)
        spark.catalog.dropTempView(name)
    elif out_path is None:
        result = None
    else:
        # out_path only exists once a batch ran; a run over an empty
        # source has none. Catch exactly PATH_NOT_FOUND — an
        # os.path.exists probe is always False for hdfs://"/"s3a:// sinks
        # and would discard committed results (ADVICE r7) — and return an
        # empty frame of the plan's schema, as the memory sink would.
        try:
            result = spark.read.schema(plan.schema).parquet(out_path)
            result.schema  # force eager path resolution
        except AnalysisException as exc:
            if (exc.getCondition() or "") != "PATH_NOT_FOUND":
                raise
            result = spark.createDataFrame([], plan.schema)
    return result, q.recentProgress


def static_and_stream(spark, sf_dir: str, table_file: str):
    """Return ``(static_df, stream_df, n_state_partitions)`` over one
    parquet table under ``sf_dir``, dispatching on the table's physical
    layout.

    A parquet table ships either as a single FILE (``events.parquet`` —
    the fixture layout) or as a DIRECTORY of part files (the layout every
    parquet writer produces, and the only layout on object stores).
    Spark's FileStreamSource requires its path argument to be a directory
    (``'basePath' must be a directory``), so the single-file layout must
    be streamed by globbing the parent with ``pathGlobFilter``; the
    directory layout must be streamed directly, because a glob on the
    parent matches nothing one level down (UNABLE_TO_INFER_SCHEMA). Any
    non-local URI takes the directory branch. Bounded availableNow runs
    split a directory into ~4 micro-batches via maxFilesPerTrigger so
    watermark progression across batches is actually exercised without
    paying per-file micro-batch overhead.

    ``n_state_partitions`` is the replay-volume-appropriate argument for
    :func:`bounded_state_partitions`: derived from SOURCE BYTES for a
    single-file replay (one state instance per ~16 MB of parquet,
    floored at 4, capped at the core count — r16: every per-instance
    per-batch cost is fixed [store open, delta file, fsync], so a 2 MB
    fixture replay at 4 instances beat the old cores/4=8 default by
    ~0.9 s on the interval join while a 1 GB single file now gets MORE
    instances than the old core-derived cap), and the file count
    (capped at the core count) for a directory — a 32-part table
    replays with 32 state instances. Stateful wall time is
    state-partition-parallel, so undersizing it turns a big replay into
    a few giant single-threaded state tasks (measured 77.5s -> 23.1s on
    a 10M-row sessionization replay by lifting 8 -> 32).
    """
    import math
    import os

    path = os.path.join(sf_dir, table_file)
    if "://" not in path and not os.path.isdir(path):
        static = spark.read.option("pathGlobFilter", table_file).parquet(sf_dir)
        stream = (
            spark.readStream.schema(static.schema)
            .option("pathGlobFilter", table_file)
            .option("maxFilesPerTrigger", "1")
            .parquet(sf_dir)
        )
        cores = spark.sparkContext.defaultParallelism
        try:
            fbytes = os.path.getsize(path)
        except OSError:
            return static, stream, max(4, cores // 4)
        n_state = max(4, min(math.ceil(fbytes / (_BATCH_TARGET_BYTES // 4)), cores))
        return static, stream, n_state
    static = spark.read.parquet(path)
    try:
        part_bytes = [
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        n_files = len(part_bytes)
    except OSError:
        part_bytes, n_files = [], 4
    per_trigger = max(1, math.ceil(n_files / 4))
    if part_bytes:
        # cap the batch by SOURCE BYTES so in-flight stateful-operator
        # state stays bounded no matter the replay volume (see
        # _BATCH_TARGET_BYTES); fixture-sized directories keep the
        # ~4-batch split (the byte cap only binds on big synthesized
        # replays).
        avg = max(1, sum(part_bytes) // n_files)
        per_trigger = max(1, min(per_trigger, _BATCH_TARGET_BYTES // avg))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(path)
    )
    cores = spark.sparkContext.defaultParallelism
    n_state = max(cores // 4, min(n_files, cores))
    return static, stream, n_state
