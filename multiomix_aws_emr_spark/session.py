"""SparkSession factory and runtime configuration baseline.

The configuration set carries the operational lessons of the reference
(SURVEY.md §4.2; reference `src/emr.py:105-137`, `Dockerfile:9-17`) plus the
cross-engine determinism requirements of the oracle harness:

- UTC session timezone (timestamp->date casts must agree with DuckDB),
- ``nanosAsLong`` parquet read (older events fixtures were
  TIMESTAMP(NANOS), which stock Spark 4.x refuses; newer fixtures are
  TIMESTAMP(MICROS), for which the conf is a harmless no-op — the reader
  dispatches on the arrived dtype via ``sources.tables.ts_ms_expr``),
- AQE on (runtime re-planning: skew joins, partition coalescing),
- Arrow on (vectorized pandas UDF exchange — the fast path for every
  ``applyInPandas`` / ``mapInPandas`` operator in this engine).

All of these are runtime-settable SQL confs, so :func:`configure` can also
be applied to an externally-created session (the driver harness creates its
own ``SparkSession``).
"""

from __future__ import annotations

import os
import tempfile
import time
import zipfile
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable SQL confs — applied defensively by every query entry
# point so an externally-built session still reads the fixtures correctly.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write-path codec: zstd dominates the snappy default on every axis
    # measured (BASELINE.md, "Round-9 CODEC probe" — 28% smaller, 38%
    # faster writes, scan within noise; at 100 TB the byte saving IS read
    # bandwidth).
    # Read paths are codec-agnostic, so this only shapes what we write.
    "spark.sql.parquet.compression.codec": "zstd",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Grouped-map/pandas UDFs are pickled by reference to their defining
    module, so workers must be able to ``import multiomix_aws_emr_spark`` —
    which fails when the driver process was launched from another cwd (the
    external harness does exactly that). The standard fix is the
    ``--py-files`` mechanism: zip the package once per source state and
    ``sc.addPyFile`` it. Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_maes_pyfile_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    newest = 0.0
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                sources.append(p)
                newest = max(newest, os.path.getmtime(p))
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{int(newest * 1000)}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in sources:
                zf.write(p, os.path.join(pkg_name, os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._maes_pyfile_shipped = True


def is_local_master(master: str) -> bool:
    """True when every node of the session's topology shares the driver's
    filesystem by construction: ``local[...]`` and ``local-cluster[...]``
    masters (multiple JVMs, one host). The shared predicate behind both
    checkpoint-dir provisioning gates (operators/checkpointing.py,
    streaming/util.py) — anywhere else a driver-local temp path silently
    mislocates executor-written files."""
    return master.startswith("local")


def shared_scratch_dir(
    spark: SparkSession, prefix: str, *, env_var: str, what: str
) -> str:
    """A per-run directory every node of the session's topology can reach
    and write — the ONE provisioning policy behind every executor-written
    artifact (streaming checkpoint state, persisted index parquet).
    Resolution order: ``env_var`` names a durable shared root (HDFS/S3 on
    a fleet; a unique per-run subdir under it is returned), else a
    driver-local temp dir when the master is local/local-cluster (one
    host — shared by construction), else raise with the recipe, because a
    silently driver-local path loses executor-written files on a real
    fleet."""
    import uuid

    root = os.environ.get(env_var)
    if root:
        return f"{root.rstrip('/')}/{prefix}_{uuid.uuid4().hex[:12]}"
    master = spark.sparkContext.master
    if is_local_master(master):
        return tempfile.mkdtemp(prefix=f"{prefix}_")
    raise RuntimeError(
        f"{what} on a non-local master requires a durable shared root: "
        f"set {env_var} to an HDFS/S3 URI reachable by every executor "
        f"(master={master!r})"
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime conf baseline to an existing session (idempotent)."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf may be static on some builds; reads will then rely on the
            # session having been built via build_session().
            pass
    try:
        # Right-size shuffles for an externally-built session, but only when
        # it still carries the stock default: batch stages are saved by AQE
        # coalescing anyway, streaming stateful stages are NOT (no AQE) and
        # would otherwise run 200 tasks per micro-batch regardless of size.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    try:
        _ship_package(spark)
    except Exception:
        # Shipping is best-effort: in-repo launches resolve the package via
        # the driver's sys.path/cwd anyway.
        pass
    return spark


def build_session(
    app_name: str = "multiomix-aws-emr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    shuffle_bytes: int | None = None,
) -> SparkSession:
    """Build a local session sized for the harness environment.

    Shuffle partition count defaults to the core count: at local[32] with
    sub-GB inputs, 32 partitions keeps every core busy without flooding the
    scheduler with empty tasks. At cluster scale this is superseded by AQE
    coalescing (`spark.sql.adaptive.coalescePartitions.enabled`, on by
    default when AQE is on).

    For wide-state workloads at real volume, pass ``shuffle_bytes`` (the
    byte estimate of the widest exchange — usually
    ``parquet_bytes(fact_table_path)``) and the count is sized by
    :func:`sized_shuffle_partitions` (BASELINE rule 2) instead of the
    core-count default. Sub-GB estimates floor at the core count, so the
    hook is safe to use unconditionally.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None and shuffle_bytes is not None:
        shuffle_partitions = sized_shuffle_partitions(
            shuffle_bytes, cores=int(cpus) if cpus.isdigit() else None
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = assemble_conf(shuffle_partitions, extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())


def _force(df) -> None:
    """Run ``df`` to completion through the noop sink: full computation,
    no driver-side collect, no disk (BASELINE.md §B)."""
    df.write.mode("overwrite").format("noop").save()


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """Pay a session's first-use costs before any query is timed, so a
    number measures the query, not whichever engine path it hits first.

    The one warm-up behind ``bench.py``, ``tools/solo_time.py`` and
    ``tools/stream_profile.py``, in this order: the flagship query (JVM
    and codegen paths), a scan of every table (file listing, footer
    reads), the Python worker pool (one worker per core imports
    pandas/numpy/pyarrow on first use), the Structured Streaming runtime
    and the Python Data Source API. Errors from the first three
    propagate; callers that must keep going catch them. The memory-sink
    temp views the two stream warms register are dropped, so the warm-up
    leaves no catalog state behind."""
    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.sources.pydatasource import prewarm_datasource_api
    from multiomix_aws_emr_spark.sources.tables import TABLE_NAMES, load
    from multiomix_aws_emr_spark.streaming.util import prewarm_streaming_runtime

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views = temp_views()
    _force(QUERIES["flagship_revenue_by_region"](spark, sf_dir))
    for t in TABLE_NAMES:
        _force(load(spark, sf_dir, t))

    def _identity(it):
        yield from it

    _force(
        spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
        .mapInPandas(_identity, schema="id long")
    )
    prewarm_streaming_runtime(spark, sf_dir)
    prewarm_datasource_api(spark)
    for name in temp_views() - views:
        spark.catalog.dropTempView(name)


def time_query(spark: SparkSession, qid: str, sf_dir: str) -> float:
    """Seconds to build declared query ``qid`` and force it through the
    noop sink, by ``time.perf_counter``. Its Spark jobs run under the job
    description ``qid``; the caller's description is restored after."""
    from multiomix_aws_emr_spark.queries import QUERIES

    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(qid)
    try:
        t0 = time.perf_counter()
        _force(QUERIES[qid](spark, sf_dir))
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(previous)


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str] | None):
    """Set ``confs`` (key -> value) for the body and restore the prior
    values on exit, unsetting keys that were unset before. Spark confs
    are session-global, so concurrent actions in other threads see the
    scoped values too; every caller scopes only semantics-free confs
    (partition counts, optimizer gates), so results stay correct."""
    if not confs:
        yield
        return
    saved: dict[str, str | None] = {}
    for key, value in confs.items():
        saved[key] = spark.conf.get(key, None)
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def parquet_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given parquet files/directories.

    The cheap, always-available volume signal for
    :func:`sized_shuffle_partitions`: pass the paths of the tables whose
    rows actually flow through the widest exchange (the fact table of a
    join/agg, the corpus of a dedup), not every input."""
    total = 0
    for path in paths:
        if os.path.isfile(path):
            total += os.path.getsize(path)
            continue
        for root, dirs, files in os.walk(path):
            # Prune metadata/hidden DIRECTORIES too (_temporary/, _delta_log/,
            # .staging/): their payloads are not data bytes and would inflate
            # the sized_shuffle_partitions estimate for in-progress layouts.
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
    return total


def _parse_mem(raw: str) -> int:
    """Parse a JVM memory string ('8g', '24576m', '12288') to bytes."""
    raw = raw.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] in mult:
        return int(float(raw[:-1]) * mult[raw[-1]])
    return int(raw)


def _heap_bytes_from_env() -> int:
    """Parse SPARK_GRAFT_DRIVER_MEM ('8g', '48g', '24576m') to bytes."""
    return _parse_mem(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))


def executor_task_share_bytes(spark) -> int | None:
    """Per-task unified-region share derived from the EXECUTOR sizing
    confs: ``spark.memory.fraction * spark.executor.memory /
    spark.executor.cores`` when memory+cores are set — the cluster
    deployment convention (EMR / k8s / standalone submissions always size
    executors explicitly). The unified-region fraction is read from the
    session conf (clusters tuned away from the 0.6 default would
    otherwise get a skewed share — ADVICE r10). Returns None when either
    sizing conf is absent (the single-JVM harness, where the driver heap
    over the session parallelism is the right proxy).

    This matters under multi-JVM masters: the driver-heap proxy
    misestimates the true per-task share by the executor count (measured
    in the r10 kill probe: 8g driver default -> ~900 initial partitions
    for Q18 1000x on a local-cluster[4,8,12288] whose true share implies
    ~160; AQE coalescing rescued the layout to 150-180, but no-AQE
    stages — streaming state — would have run 6x over-split)."""
    try:
        mem = spark.conf.get("spark.executor.memory")
        cores = int(spark.conf.get("spark.executor.cores"))
        fraction = float(spark.conf.get("spark.memory.fraction", "0.6"))
        return int(_parse_mem(mem) * fraction / cores)
    except Exception:
        return None


def sized_shuffle_partitions(
    shuffle_bytes: int,
    *,
    cores: int | None = None,
    heap_bytes: int | None = None,
    per_task_share_bytes: int | None = None,
    decompression_ratio: float = 3.0,
    state_fill_fraction: float = 0.3,
    max_partitions: int = 100_000,
) -> int:
    """Volume-aware shuffle partition count (BASELINE.md sizing rule 2).

    Rule 2, validated by the spill probe and the 1000x reruns: set
    ``spark.sql.shuffle.partitions`` so per-partition DECOMPRESSED
    operator state fits ~0.3x the per-task execution share::

        partitions ~= shuffle_bytes * decompression_ratio
                      / (state_fill_fraction * per_task_share)

    floored at the core count (keep every core busy) and rounded UP to a
    whole multiple of cores (full task waves — a 1.1-wave count leaves
    most cores idle for the straggler wave).

    ``shuffle_bytes`` is the caller's estimate of the bytes entering the
    widest exchange — on-disk parquet size of the shuffled fact table is
    the usual proxy (see :func:`parquet_bytes`); multiply by the fan-out
    first for exploding plans (shingles, array explode).

    ``per_task_share_bytes`` defaults to the Spark unified region per
    concurrent task, ``heap * 0.6 / cores`` (spark.memory.fraction=0.6),
    with the heap taken from SPARK_GRAFT_DRIVER_MEM (the single-JVM
    harness convention; pass ``heap_bytes`` explicitly for executor
    sizing on a real cluster).

    Reproduces the recorded winners without hand-tuning: the spill
    probe's ~900 MB shuffled state at 150 MB/task -> 60 (recorded
    optimum 64, spill eliminated), and Q18 at 1000x (14 GB fact, 48g
    heap, 32 cores) -> 160, within noise of the hand-tuned 256 record
    (78.0 s) and 1.5x faster than the default 32. Small inputs floor at
    ``cores``, so sub-GB fixtures keep the existing plans unchanged.

    Raising the count globally is NOT the rule: small-state shapes pay
    pure task overhead with no state to split (text_unigram_rarity at
    1000x was 1.7x SLOWER at 256). Size per wide shape.
    """
    if cores is None:
        raw = os.environ.get("SPARK_GRAFT_CPUS", "")
        cores = int(raw) if raw.isdigit() else (os.cpu_count() or 8)
    if per_task_share_bytes is None:
        if heap_bytes is None:
            heap_bytes = _heap_bytes_from_env()
        per_task_share_bytes = int(heap_bytes * 0.6 / cores)
    state_budget = state_fill_fraction * per_task_share_bytes
    n_mem = (shuffle_bytes * decompression_ratio) / max(state_budget, 1)
    n = max(cores, int(n_mem + 0.999999))
    n = ((n + cores - 1) // cores) * cores  # whole waves
    return min(n, max_partitions)


def adaptive_sizing_conf(
    ceiling: int = 1024,
    advisory_bytes: str = "16MB",
) -> dict[str, str]:
    """AQE conf pair that makes shuffle partition count VOLUME-ADAPTIVE
    at runtime — the dynamic complement to :func:`sized_shuffle_partitions`
    for pipelines whose exchange bytes aren't known up front.

    Two knobs must move together (measured, Q18 1000x, same window):
    raising only the ceiling (``initialPartitionNum=256``, stock 64MB
    advisory) gained NOTHING (156.8 s vs 153.8 s at static 32) because
    AQE coalesces on COMPRESSED bytes and rebuilt the coarse layout —
    BASELINE rule 3's exact failure. Ceiling + 16MB advisory hit
    136.1 s, matching the hand-tuned static 256 (139.7 s same method)
    with no byte estimate required.

    Use for ad-hoc/unknown-volume sessions::

        build_session(extra_conf=adaptive_sizing_conf())

    Known-volume pipelines should prefer the explicit
    ``shuffle_bytes=`` hook: static sizing also covers the no-AQE paths
    (streaming stateful shuffles) and avoids the per-mapper cost of
    ``ceiling`` shuffle buckets on every exchange.

    NOT a free lunch — rule 2's "size per wide shape, not globally"
    applies to the dynamic variant too: the same conf pair that gains
    1.13x on Q18's wide-state exchange COSTS 1.20-1.25x on
    dedup_near_minhash at 1000x docs (64.6 s -> 77.5-80.4 s, measured
    twice), whose post-r6 sketch-cached exchange carries small
    per-partition state and pays the 16MB advisory purely in task
    overhead. Apply to sessions whose dominant exchanges are known to
    be wide-state; keep the engine default for mixed suites.
    """
    return {
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(ceiling),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory_bytes,
    }


def assemble_conf(
    shuffle_partitions: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """Session conf as a plain dict, in override order: harness sizing,
    then RUNTIME_CONF, then caller overrides LAST so they win. The
    caller-override hook is needed by the local-cluster probe:
    `local-cluster[n,cores,MEM]` sizes only the WORKER's budget —
    executors still launch at the 1g spark.executor.memory default and
    OOM (observed: -Xmx1024M in the executor command despite 24576 in
    the master string)."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Static (ContextCleaner reads it at SparkContext build): delete a
        # fixpoint round's durable checkpoint files once its RDD is GC'd,
        # so reliable-mode fixpoints keep a bounded checkpoint dir
        # (operators/checkpointing.py; asserted in tests/test_checkpointing).
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }
    conf.update(RUNTIME_CONF)
    conf.update(extra_conf or {})
    return conf
