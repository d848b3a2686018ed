"""Session conf assembly — pure-dict tests (no JVM) — plus the shared
warm-up and timer on the test session.

The one behavioral contract worth pinning here is override ORDER:
``assemble_conf`` layers harness sizing, then RUNTIME_CONF, then caller
``extra_conf`` LAST. The local-cluster probe depends on the last layer
winning (it must force ``spark.executor.memory`` past both defaults and
RUNTIME_CONF); a refactor that reorders the layers would make executors
silently launch at the 1g default and OOM mid-stage — exactly the
failure the round-8 probe hit before the hook existed.
"""

import pytest

from multiomix_aws_emr_spark.session import RUNTIME_CONF, assemble_conf


def test_default_assembly_carries_runtime_conf_and_sizing():
    conf = assemble_conf(32)
    assert conf["spark.sql.shuffle.partitions"] == "32"
    assert conf["spark.ui.enabled"] == "false"
    for key, value in RUNTIME_CONF.items():
        assert conf[key] == value


def test_extra_conf_wins_over_runtime_conf_and_defaults():
    runtime_key = next(iter(RUNTIME_CONF))
    overrides = {
        runtime_key: "PROBE_OVERRIDE",
        "spark.executor.memory": "24576m",
        "spark.sql.shuffle.partitions": "7",
    }
    conf = assemble_conf(32, overrides)
    assert conf[runtime_key] == "PROBE_OVERRIDE"
    assert conf["spark.executor.memory"] == "24576m"
    assert conf["spark.sql.shuffle.partitions"] == "7"
    # and the unrelated layers are untouched
    others = {k: v for k, v in RUNTIME_CONF.items() if k != runtime_key}
    for key, value in others.items():
        assert conf[key] == value


def test_none_extra_conf_is_a_no_op():
    assert assemble_conf(16, None) == assemble_conf(16, {})


# ---------------------------------------------------------------------------
# sized_shuffle_partitions (BASELINE.md sizing rule 2 as product code)
# ---------------------------------------------------------------------------

from multiomix_aws_emr_spark.session import (  # noqa: E402
    parquet_bytes,
    sized_shuffle_partitions,
)

GB = 1 << 30
MB = 1 << 20


def test_small_inputs_floor_at_core_count():
    # every sf0.001..sf0.1 fixture shape: the helper must leave the
    # existing plans alone (partitions = cores)
    assert sized_shuffle_partitions(50 * MB, cores=32, heap_bytes=8 * GB) == 32
    assert sized_shuffle_partitions(0, cores=32, heap_bytes=8 * GB) == 32


def test_reproduces_spill_probe_optimum():
    # the spill probe's recorded winner: ~900 MB compressed shuffled
    # state at 150 MB/task execution share -> 64 partitions eliminated
    # sort/SMJ spill entirely and was also fastest
    n = sized_shuffle_partitions(
        900 * MB, cores=4, per_task_share_bytes=150 * MB
    )
    assert 56 <= n <= 72, n


def test_reproduces_q18_1000x_winner_band():
    # Q18 at 1000x: 14 GB on-disk fact, 48g heap, 32 cores. Hand-tuned
    # 256 won (78.0 s) vs the 32 default (118.7 s); the helper must land
    # in the winning band (>=4x the default, a whole number of waves)
    n = sized_shuffle_partitions(14 * GB, cores=32, heap_bytes=48 * GB)
    assert 128 <= n <= 512, n
    assert n % 32 == 0


def test_whole_wave_rounding_and_cap():
    n = sized_shuffle_partitions(14 * GB, cores=24, heap_bytes=48 * GB)
    assert n % 24 == 0
    assert (
        sized_shuffle_partitions(
            10_000 * GB, cores=32, heap_bytes=8 * GB, max_partitions=4096
        )
        == 4096
    )


def test_per_task_share_override_beats_heap_derivation():
    by_share = sized_shuffle_partitions(
        10 * GB, cores=8, per_task_share_bytes=1 * GB
    )
    by_heap = sized_shuffle_partitions(
        10 * GB, cores=8, heap_bytes=8 * GB * 8 // 6 * 10
    )
    assert by_share == 104  # 30 GB decompressed / 0.3 GB -> 100 -> wave 104
    # heap path derives share = 0.6*heap/cores = 8 GB -> budget 2.4 GB ->
    # ceil(30/2.4)=13 -> wave 16; the explicit per-task share must BEAT
    # (replace) that derivation, not merge with it
    assert by_heap == 16
    assert by_share != by_heap


def test_build_session_shuffle_bytes_hook_passes_through(monkeypatch):
    # conf assembly must carry the sized count (no session launch needed:
    # assemble_conf is the layer build_session feeds)
    from multiomix_aws_emr_spark.session import assemble_conf

    n = sized_shuffle_partitions(14 * GB, cores=32, heap_bytes=48 * GB)
    conf = assemble_conf(n)
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_parquet_bytes_sums_files_and_dirs(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1000)
    (d / "part-1.parquet").write_bytes(b"y" * 500)
    (d / "_SUCCESS").write_bytes(b"")  # marker files excluded
    single = tmp_path / "single.parquet"
    single.write_bytes(b"z" * 250)
    assert parquet_bytes(str(d)) == 1500
    assert parquet_bytes(str(d), str(single)) == 1750


def test_adaptive_sizing_conf_pairs_ceiling_with_advisory():
    from multiomix_aws_emr_spark.session import adaptive_sizing_conf

    conf = adaptive_sizing_conf()
    # the two knobs MUST travel together: a raised ceiling with the
    # stock 64MB advisory coalesces right back to the coarse layout
    # (measured: no gain at Q18 1000x) — see the docstring record
    assert (
        conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
        == "1024"
    )
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "16MB"
    custom = adaptive_sizing_conf(ceiling=256, advisory_bytes="8MB")
    assert (
        custom["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
        == "256"
    )
    assert custom["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "8MB"
    # composes with the session conf layering (caller overrides last)
    conf2 = assemble_conf(32, adaptive_sizing_conf())
    assert (
        conf2["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
        == "1024"
    )


# ---------------------------------------------------------------------------
# warm_session / time_query: the one warm-up and timer of bench.py,
# tools/solo_time.py and tools/stream_profile.py
# ---------------------------------------------------------------------------


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_warm_session_leaves_the_session_as_it_found_it(spark, sf_dir):
    from multiomix_aws_emr_spark.session import warm_session

    cache = spark._jsparkSession.sharedState().cacheManager()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    views, entries = _temp_views(spark), cache.numCachedEntries()
    warm_session(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert spark.streams.active == []
    assert _temp_views(spark) == views
    assert cache.numCachedEntries() == entries
    with pytest.raises(Exception):
        warm_session(spark, "/nonexistent")


def test_time_query_names_its_jobs_and_restores_description(
    spark, sf_dir, monkeypatch
):
    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.session import time_query

    acc = spark.sparkContext.accumulator(0)

    def record(batches):
        from pyspark import TaskContext

        desc = TaskContext.get().getLocalProperty("spark.job.description")
        acc.add(int(desc == "timed_probe"))
        yield from batches

    monkeypatch.setitem(
        QUERIES,
        "timed_probe",
        lambda s, _sf: s.range(0, 1, 1, 1).mapInPandas(record, "id long"),
    )
    assert time_query(spark, "timed_probe", sf_dir) > 0
    assert acc.value == 1
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
