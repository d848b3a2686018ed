"""Per-query rule-2 sizing hints (the ``@query`` wrapper in
queries/registry.py): wide-state declared shapes size their shuffle
partition count from the widest-exchange byte estimate hands-free, for
their own build, actions and sinks only; fixture-scale estimates floor to
the session's live count so those queries come back untouched; every
scope restores, so the session reads its baseline between queries."""

import pytest

from multiomix_aws_emr_spark.queries import QUERIES
from multiomix_aws_emr_spark.queries import registry
from multiomix_aws_emr_spark.queries.registry import SIZING_HINTS, fact_bytes

CONF = "spark.sql.shuffle.partitions"
BASE = "8"  # the local[8] test session's count
#: a 14 GB estimate on the local[8] session with the default 8g heap:
#: 14 GiB * 3 / (0.3 * 8g * 0.6 / 8) = 233.3 -> 240, whole waves of 8
SIZED = "240"


def _14gb(_sf_dir):
    return 14 << 30


def _probe(spark):
    """A one-task frame whose task adds the shuffle count its job was
    submitted at (Spark ships the session's SQL confs to tasks as local
    properties) to the returned accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def record(batches):
        from pyspark import TaskContext

        acc.add(int(TaskContext.get().getLocalProperty(CONF)))
        yield from batches

    return spark.range(0, 1, 1, 1).mapInPandas(record, "id long"), acc


def _submitted_at(acc) -> str:
    """The count the probe's last job ran at; resets the accumulator."""
    seen, acc.value = acc.value, 0
    return str(seen)


@pytest.fixture
def declare(spark, monkeypatch):
    """Register scratch queries through the real ``@query`` wrapper
    without touching the declared registry."""
    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "SIZING_HINTS", {})
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert spark.conf.get(CONF) == BASE

    def _declare(fn, **kwargs):
        return registry.query(fn.__name__, **kwargs)(fn)

    yield _declare
    assert spark.conf.get(CONF) == BASE


def test_wide_shapes_carry_hints():
    for qid in (
        "sql_large_volume_customer",
        "flagship_revenue_by_region",
        "dedup_near_minhash",
        "pipeline_curation_v3",
        # r11: measured fan-outs (tools/fanout_probe.py)
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "text_unigram_rarity",
    ):
        assert qid in SIZING_HINTS, f"{qid} lost its sizing hint"
        assert qid in QUERIES


def test_fixture_scale_floors_to_baseline(spark, sf_dir):
    """Sub-GB estimates must leave the session count untouched — the
    r8 lesson that raising the count on small state is a pure loss —
    and the frame comes back as Spark's own DataFrame class."""
    df = QUERIES["sql_large_volume_customer"](spark, sf_dir)
    assert type(df) is type(spark.range(1))
    assert spark.conf.get(CONF) == BASE
    assert df.count() >= 0
    assert spark.conf.get(CONF) == BASE


def test_large_estimate_sizes_and_next_query_restores(spark, sf_dir, declare):
    seen = {}

    def hinted(spark, sf_dir):
        probe, acc = _probe(spark)
        probe.collect()  # an eager build-time job
        seen["build"] = _submitted_at(acc)
        return spark.range(10)

    def plain(spark, sf_dir):
        seen["plain"] = spark.conf.get(CONF)
        return spark.range(10)

    declare(hinted, sizing_hint=_14gb)(spark, sf_dir)
    assert seen["build"] == SIZED
    assert spark.conf.get(CONF) == BASE
    df = declare(plain)(spark, sf_dir)
    assert seen["plain"] == BASE
    assert type(df) is type(spark.range(1))


def test_unreadable_hint_path_falls_back(spark, declare):
    def unreadable(spark, sf_dir):
        return spark.range(10)

    df = declare(unreadable, sizing_hint=fact_bytes("lineitem"))(
        spark, "/nonexistent/sf_dir"
    )
    assert type(df) is type(spark.range(1))


def test_fact_bytes_applies_fanout(tmp_path):
    d = tmp_path / "documents.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1000)
    assert fact_bytes("documents")(str(tmp_path)) == 1000
    assert fact_bytes("documents", fanout=3.0)(str(tmp_path)) == 3000


def test_hint_engages_at_volume_math():
    """The Q18 hint must reproduce the recorded hands-free winner: a
    14 GB lineitem at 32 cores / 48g heap sizes to 160 (within 4% of the
    hand-tuned 256 record, 1.2x over the core-count default)."""
    from multiomix_aws_emr_spark.session import sized_shuffle_partitions

    assert (
        sized_shuffle_partitions(
            14_142_382_155, cores=32, heap_bytes=48 << 30
        )
        == 160
    )


def test_registry_rejects_nothing_extra():
    # hints are a strict subset of declared queries
    assert set(SIZING_HINTS) <= set(QUERIES)


def test_interleaved_execution_binds_per_query(spark, sf_dir, declare):
    """Build a hinted query, then an unhinted one, then execute them in
    the WRONG order — each action runs at its own count, not the
    last-built query's, and the session reads its baseline after each."""
    probes = {}

    def hinted(spark, sf_dir):
        df, probes["hinted"] = _probe(spark)
        return df

    def plain(spark, sf_dir):
        df, probes["plain"] = _probe(spark)
        return df

    df_hinted = declare(hinted, sizing_hint=_14gb)(spark, sf_dir)
    df_plain = declare(plain)(spark, sf_dir)
    assert df_hinted.count() == 1
    assert _submitted_at(probes["hinted"]) == SIZED
    assert spark.conf.get(CONF) == BASE
    assert df_plain.count() == 1
    assert _submitted_at(probes["plain"]) == BASE
    # every action re-enters the scope, not only the first
    assert len(df_hinted.collect()) == 1
    assert _submitted_at(probes["hinted"]) == SIZED
    assert spark.conf.get(CONF) == BASE


def test_declared_query_rebinds_at_action(spark, sf_dir, declare):
    """A hinted frame's count() and its noop ``write`` sink both submit
    at the hinted count, and the session reads its baseline after."""
    probes = {}

    def hinted(spark, sf_dir):
        df, probes["acc"] = _probe(spark)
        return df

    df = declare(hinted, sizing_hint=_14gb)(spark, sf_dir)
    acc = probes["acc"]
    assert df.count() == 1
    assert _submitted_at(acc) == SIZED
    assert spark.conf.get(CONF) == BASE
    df.write.mode("overwrite").format("noop").save()
    assert _submitted_at(acc) == SIZED
    assert spark.conf.get(CONF) == BASE


def test_memory_fraction_respected():
    """Clusters tuned away from spark.memory.fraction=0.6 get a share
    derived from their own fraction (ADVICE r10)."""
    from multiomix_aws_emr_spark.session import executor_task_share_bytes

    class _Conf:
        def __init__(self, vals):
            self._v = vals

        def get(self, key, default=None):
            if key in self._v:
                return self._v[key]
            if default is not None:
                return default
            raise KeyError(key)

    class _S:
        def __init__(self, vals):
            self.conf = _Conf(vals)

    tuned = executor_task_share_bytes(
        _S(
            {
                "spark.executor.memory": "10g",
                "spark.executor.cores": "5",
                "spark.memory.fraction": "0.8",
            }
        )
    )
    assert tuned == int((10 << 30) * 0.8 / 5)


def test_executor_task_share_from_confs(spark):
    """Multi-JVM sizing: when executor memory+cores are set (the cluster
    submission convention) the per-task share derives from them; absent
    either conf, None (fall back to the driver-heap proxy)."""
    from multiomix_aws_emr_spark.session import executor_task_share_bytes

    class _Conf:
        def __init__(self, vals):
            self._v = vals

        def get(self, key, default=None):
            if key in self._v:
                return self._v[key]
            if default is not None:
                return default
            raise KeyError(key)

    class _S:
        def __init__(self, vals):
            self.conf = _Conf(vals)

    share = executor_task_share_bytes(
        _S({"spark.executor.memory": "12288m", "spark.executor.cores": "8"})
    )
    assert share == int((12288 << 20) * 0.6 / 8)  # 921.6 MB
    assert executor_task_share_bytes(_S({})) is None
    assert (
        executor_task_share_bytes(_S({"spark.executor.memory": "12g"}))
        is None
    )
    # the local test session sets neither -> driver-heap proxy path
    assert executor_task_share_bytes(spark) is None


def test_executor_share_picks_cluster_true_count():
    """Q18 1000x on local-cluster[4,8,12288]: executor-derived share
    (921.6 MB/task) sizes to 160 — the same count the 48g single-JVM
    derivation picks — where the 8g driver-heap proxy said 960."""
    from multiomix_aws_emr_spark.session import sized_shuffle_partitions

    by_exec = sized_shuffle_partitions(
        14_142_382_155,
        cores=32,
        per_task_share_bytes=int((12288 << 20) * 0.6 / 8),
    )
    assert by_exec == 160
    by_driver_proxy = sized_shuffle_partitions(
        14_142_382_155, cores=32, heap_bytes=8 << 30
    )
    assert by_driver_proxy == 896  # ~6x over-split vs the true share


def test_writer_held_across_build_rebinds(spark, sf_dir, declare):
    """The writer proxy scopes the TERMINAL call, so a writer held across
    another query's build still submits at its owner's count."""
    probes = {}

    def hinted(spark, sf_dir):
        df, probes["acc"] = _probe(spark)
        return df

    def plain(spark, sf_dir):
        return spark.range(10)

    w = declare(hinted, sizing_hint=_14gb)(spark, sf_dir).write  # held...
    declare(plain)(spark, sf_dir)  # ...across an unhinted build
    w.mode("overwrite").format("noop").save()
    assert _submitted_at(probes["acc"]) == SIZED
    assert spark.conf.get(CONF) == BASE


def test_writeto_sink_rebinds(spark, sf_dir, declare):
    """PySpark 4.x ``writeTo`` is a plain method (not a property); it
    must still return a scoping proxy."""
    probes = {}

    def hinted(spark, sf_dir):
        df, probes["acc"] = _probe(spark)
        return df

    df = declare(hinted, sizing_hint=_14gb)(spark, sf_dir)
    tbl = "maes_writeto_rebind_test"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        df.writeTo(tbl).using("parquet").create()
        assert _submitted_at(probes["acc"]) == SIZED
        assert spark.conf.get(CONF) == BASE
        assert spark.table(tbl).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
