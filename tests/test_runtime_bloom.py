"""join_runtime_bloom: Catalyst runtime bloom-filter injection.

Three contracts:
1. The optimizer plan for the declared query (under its own scoped confs)
   contains the injected ``bloom_filter_agg``/``might_contain`` pair on the
   fact side — the row-level runtime filter that prunes the 100 TB fact
   scan BEFORE its shuffle.
2. The filter is semantics-free: bloom filters are false-positive-only, so
   the result set is identical with injection disabled (the equi-join
   re-checks every surviving row).
3. The ``extra_confs`` scope never leaks: the session's broadcast
   threshold and bloom gates read their pre-query values again the moment
   the action returns (interleaved suites must not inherit
   autoBroadcastJoinThreshold=-1).
"""

from multiomix_aws_emr_spark.queries.registry import QUERIES
from multiomix_aws_emr_spark.session import scoped_confs

BLOOM_QID = "join_runtime_bloom"
_PROBE_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold",
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_plan_has_injected_bloom_filter(spark, sf_dir):
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    scope = df._query_scope
    assert scope[1], "declared query must carry its injection-gating confs"
    with scoped_confs(*scope):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_no_injection_without_scoped_confs(spark, sf_dir):
    # the negative control: with stock gates (10 GB application-side scan)
    # the same logical plan does NOT qualify at fixture scale — proving the
    # assertion above exercises the injection rule, not a plan accident
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" not in plan


def test_bloom_filter_is_semantics_free(spark, sf_dir):
    scoped = QUERIES[BLOOM_QID](spark, sf_dir)
    with_bloom = _rows(scoped)  # the action enters the query's scope
    # a derived frame runs at the session's confs; disable injection too
    plain = scoped.select("*")
    assert type(plain) is type(spark.range(1))
    off = {"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}
    with scoped_confs(spark, off):
        assert with_bloom == _rows(plain)
    assert len(with_bloom) > 0


def test_scoped_confs_restore_after_action(spark, sf_dir):
    before = {c: spark.conf.get(c) for c in _PROBE_CONFS}
    assert before["spark.sql.autoBroadcastJoinThreshold"] != "-1"
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == (
        before["spark.sql.autoBroadcastJoinThreshold"]
    )
    assert df.count() > 0
    after = {c: spark.conf.get(c) for c in _PROBE_CONFS}
    assert after == before


def test_oracle_parity(spark, sf_dir, duck):
    from multiomix_aws_emr_spark.queries.registry import ORACLES

    got = _rows(QUERIES[BLOOM_QID](spark, sf_dir))
    want = sorted(map(tuple, duck.sql(ORACLES[BLOOM_QID]).fetchall()))
    assert got == want


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    # the partition-granularity sibling: the executed plan's fact scan
    # must carry a dynamicpruning PartitionFilter fed by the dim's
    # broadcast — no conf overrides involved
    df = QUERIES["join_dynamic_partition_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    rows = _rows(df)
    assert {r[0] for r in rows} == {"click", "view"}
