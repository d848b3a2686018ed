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

    Durable-root lifecycle: bounded runners delete their per-run subdir
    on success (``cleanup_stream_checkpoint`` with the session handle —
    Hadoop-FS delete for URI roots) and KEEP it on failure for
    diagnosis — every runner site sweeps on the success path only
    (ADVICE r11 made this uniform), with ONE deliberate exception:
    :func:`prewarm_streaming_runtime` sweeps unconditionally, because
    its checkpoint warms a 5-row throwaway stream whose failures are
    swallowed by design — there is nothing to diagnose. The root's
    owner should still attach a TTL/janitor policy (e.g. an S3
    lifecycle rule on the prefix): failure leftovers and runs killed
    before cleanup are the owner's to expire.

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
    """Scope the shuffle/state partition count (and, when
    ``SPARK_GRAFT_STATE_STORE=rocksdb``, the state-store provider) to a
    bounded stream run."""
    if n is None:
        n = max(4, spark.sparkContext.defaultParallelism // 4)
    confs = {"spark.sql.shuffle.partitions": str(n)}
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
    sink_dir: str | None = None,
):
    """Run an append-mode bounded stream and return its full result.

    ``sink_dir=None`` (and ``SPARK_GRAFT_STREAM_SINK_DIR`` unset) uses the
    memory sink — right for fixture replays and the driver contract, where
    emitted rows are few. For big replays the memory sink IS the scale
    bug: it materializes every emitted row as driver-heap objects (the
    1000x events replay emits ~100M sessions — OOM before the first batch
    commits). With a sink directory the stream writes parquet — the
    durable-sink shape a production stream uses — and the returned
    DataFrame reads it back lazily.
    """
    sink_dir = sink_dir or os.environ.get("SPARK_GRAFT_STREAM_SINK_DIR") or None
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    # A one-shot bounded replay's checkpoint has no recovery value once
    # the result is returned, and at big replays it holds GBs of
    # state-store deltas (a 100M-row sessionization leaves ~6 GB) — so it
    # is deleted on SUCCESS and kept on failure for diagnosis. Restart
    # recovery is a different surface with a caller-owned checkpoint
    # (tests/test_streaming_recovery.py).
    ckpt = stream_checkpoint_dir(spark, f"ck_{name}")
    with bounded_state_partitions(spark, n_state):
        w = (
            plan.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if sink_dir is None:
            q = w.format("memory").queryName(name).start()
            await_bounded(q, name)
            result = spark.table(name)
        else:
            out_path = os.path.join(sink_dir, name)
            q = w.format("parquet").option("path", out_path).start()
            await_bounded(q, name)
            # The parquet sink only creates its directory at the first
            # batch COMMIT; a bounded stream that emits zero rows (all
            # input late-dropped, empty source dir) terminates cleanly
            # without ever creating it, and reading it would raise
            # PATH_NOT_FOUND. Attempt the read and catch exactly that
            # error class — NOT an os.path.exists probe, which is always
            # False for hdfs://"/"s3a:// sink dirs and would silently
            # discard committed results on any non-local durable sink
            # (ADVICE r7). On the miss, mirror the memory-sink branch
            # (an empty in-memory table) with an empty DataFrame of the
            # plan's schema — same contract stateful.py already applies.
            try:
                result = spark.read.schema(plan.schema).parquet(out_path)
                result.schema  # force eager path resolution
            except AnalysisException as exc:
                if (exc.getCondition() or "") != "PATH_NOT_FOUND":
                    raise
                result = spark.createDataFrame([], plan.schema)
    cleanup_stream_checkpoint(ckpt, spark)
    return result


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
        try:
            fbytes = os.path.getsize(path)
        except OSError:
            return static, stream, None
        cores = spark.sparkContext.defaultParallelism
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
