"""Physical-plan audits: the properties that make the declared queries hold
at 100 TB, asserted on the optimized plans so regressions fail loudly.

- column pruning + predicate pushdown reach the parquet scan,
- small/dimension sides broadcast (no shuffled join for them),
- global top-k plans as TakeOrderedAndProject (no full sort),
- similarity/dedup candidate generation never plans a CartesianProduct
  (the one deliberate exception: join_theta_range, a declared non-equi
  join, which must plan BroadcastNestedLoopJoin — still not a shuffled
  cartesian).
"""

import pytest

from multiomix_aws_emr_spark.queries import QUERIES
from multiomix_aws_emr_spark.session import scoped_confs


def _plan(spark, sf_dir, qid: str) -> str:
    df = QUERIES[qid](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_projection_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_projection")
    assert "ReadSchema: struct<l_orderkey" in plan
    # none of the other 8 lineitem columns may be read
    assert "l_extendedprice" not in plan.split("ReadSchema")[1]


def test_filter_predicate_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_predicate")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    # nation/region are tiny: both hops must be broadcast, not shuffled
    plan = _plan(spark, sf_dir, "join_multiway")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


def test_similarity_never_cartesian(spark, sf_dir):
    for qid in (
        "similarity_pairwise",
        "similarity_topk",
        "dedup_embedding_cosine",
        "dedup_ngram_jaccard",
        "dedup_near_minhash",
        "similarity_ann_lsh",
        "similarity_ivf",
    ):
        plan = _plan(spark, sf_dir, qid)
        assert "CartesianProduct" not in plan, qid
        # any nested-loop fallback must at least be broadcast-side
        if "NestedLoopJoin" in plan:
            assert "BroadcastNestedLoopJoin" in plan, qid


def test_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_theta_range")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_joins_stay_semi(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, sf_dir, "filter_exists_semi")
    assert "LeftAnti" in _plan(spark, sf_dir, "join_anti")


def test_agg_has_partial_phase(spark, sf_dir):
    # two-phase hash aggregation: partial before the exchange
    plan = _plan(spark, sf_dir, "agg_groupby")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_flagship_broadcasts_all_dims(spark, sf_dir):
    # region ⋈ nation ⋈ customer ⋈ orders: every dimension hop must be a
    # broadcast join; the only shuffle is the final aggregation
    plan = _plan(spark, sf_dir, "flagship_revenue_by_region")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from multiomix_aws_emr_spark.sources.bucketed import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(
        orders, table="b_orders", path=str(tmp_path / "o"),
        by=["o_custkey"], n_buckets=4, sort_cols=["o_custkey"],
    )
    write_bucketed(
        cust, table="b_cust", path=str(tmp_path / "c"),
        by=["c_custkey"], n_buckets=4, sort_cols=["c_custkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(
            spark, "b_orders", "b_cust",
            spark.table("b_orders").o_custkey == spark.table("b_cust").c_custkey,
        ).select("o_orderkey", "c_name")
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the whole point of bucketing: the shuffle was paid at write time
        assert "Exchange hashpartitioning" not in plan, plan
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert n == plain > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_range_join_binned_is_equi_not_nested_loop(spark, sf_dir):
    from multiomix_aws_emr_spark.queries import QUERIES

    df = QUERIES["join_range_binned"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    # binned formulation must agree exactly with the nested-loop one
    theta = set(map(tuple, QUERIES["join_theta_range"](spark, sf_dir).collect()))
    binned = set(map(tuple, df.collect()))
    assert binned == theta and len(binned) > 0


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.sinks import write_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_parquet(orders, str(tmp_path / "po"), partition_by=["o_orderstatus"])
    rd = spark.read.parquet(str(tmp_path / "po")).filter(
        F.col("o_orderstatus") == "F"
    )
    plan = rd._jdf.queryExecution().executedPlan().toString()
    # the filter must hit the directory layout, not the row data
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:160]
    assert "o_orderstatus" in seg
    assert rd.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Files written along the Morton curve must each cover a compact
    rectangle of (user_id, ts_ms) space: a 2-D box predicate should be
    able to prune most files from footer min/max stats alone."""
    import glob

    import pyarrow.parquet as pq

    from multiomix_aws_emr_spark.operators.zorder import write_zordered
    from multiomix_aws_emr_spark.sources.tables import events_v

    path = str(tmp_path / "zorder_events")
    ev = events_v(spark, sf_dir).select("event_id", "ts_ms", "user_id", "value")
    write_zordered(ev, path, zorder_by=["user_id", "ts_ms"], num_files=16)

    boxes = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = {"user_id": None, "ts_ms": None}
        hi = {"user_id": None, "ts_ms": None}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        if lo["user_id"] is not None:
            boxes.append((lo["user_id"], hi["user_id"], lo["ts_ms"], hi["ts_ms"]))

    assert len(boxes) >= 8  # layout actually produced multiple files
    # normalized area of each file's bounding rectangle: z-order keeps it
    # small; a single-dimension sort would leave the other dim at ~full
    # span (area ~ 1/num_files only on one axis, ~1.0 on the other)
    gu_lo = min(b[0] for b in boxes)
    gu_hi = max(b[1] for b in boxes)
    gt_lo = min(b[2] for b in boxes)
    gt_hi = max(b[3] for b in boxes)
    areas = [
        ((b[1] - b[0]) / max(1, gu_hi - gu_lo))
        * ((b[3] - b[2]) / max(1, gt_hi - gt_lo))
        for b in boxes
    ]
    avg_area = sum(areas) / len(areas)
    assert avg_area < 0.35, f"files not clustered: avg box area {avg_area:.3f}"

    # and a box predicate of ~20% x ~25% of the data span (relative, so
    # the test is meaningful at any sf): most files must be prunable
    qu = (gu_lo + (gu_hi - gu_lo) * 0.4, gu_lo + (gu_hi - gu_lo) * 0.6)
    qt = (gt_lo + (gt_hi - gt_lo) * 0.375, gt_lo + (gt_hi - gt_lo) * 0.625)
    hit = [
        b
        for b in boxes
        if not (b[1] < qu[0] or b[0] > qu[1] or b[3] < qt[0] or b[2] > qt[1])
    ]
    assert len(hit) <= len(boxes) // 2, (
        f"box predicate hits {len(hit)}/{len(boxes)} files"
    )


def test_sql_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_order_priority")
    assert "LeftSemi" in plan, "EXISTS did not decorrelate to a semi join"
    assert "CartesianProduct" not in plan


def test_winsorize_bounds_broadcast_back(spark, sf_dir):
    # the tiny per-group bounds table must broadcast onto the fact scan —
    # pass 2 is a map-side filter, not a shuffled join
    plan = _plan(spark, sf_dir, "agg_winsorize_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_time_rollup_single_expand_pass(spark, sf_dir):
    # both granularities must come from ONE Expand over one scan — not
    # two separate aggregation jobs
    plan = _plan(spark, sf_dir, "agg_time_rollup_multi")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1


def test_null_safe_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_null_safe")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_heavy_hitters_total_broadcasts(spark, sf_dir):
    # the 1-row corpus-total must broadcast; the threshold filter is
    # map-side, never a shuffled join
    plan = _plan(spark, sf_dir, "agg_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_correlated_scalar_decorrelates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_correlated_scalar")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # decorrelation: the subquery becomes an aggregate joined back, so
    # orders is scanned exactly twice (outer + aggregate), not per row
    assert plan.count("Scan parquet") == 2


def test_compaction_reduces_file_count(spark, sf_dir):
    import glob

    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.queries.formats import _scratch

    QUERIES["maintenance_compact_files"](spark, sf_dir).count()
    frag = glob.glob(f"{_scratch(sf_dir, 'fragmented_events')}/*.parquet")
    comp = glob.glob(f"{_scratch(sf_dir, 'compacted_events')}/*.parquet")
    assert len(frag) == 64 and len(comp) == 4
    # layout change only: identical content
    a = spark.read.parquet(_scratch(sf_dir, "fragmented_events"))
    b = spark.read.parquet(_scratch(sf_dir, "compacted_events"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_q6_predicates_all_reach_the_scan(spark, sf_dir):
    """sql_revenue_change is a scan-side query: date range, discount band
    and quantity cap must all appear as pushed parquet filters."""
    plan = _plan(spark, sf_dir, "sql_revenue_change")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q19_disjunction_derives_per_side_filters(spark, sf_dir):
    """The 3-arm OR spans both join sides; Catalyst must extract implied
    single-side predicates so each scan prunes before the broadcast
    join."""
    plan = _plan(spark, sf_dir, "sql_disjunctive_join_filter")
    assert "BroadcastHashJoin" in plan
    # implied part-side predicate (brand IN (...)) pushed to the part scan
    assert "p_brand" in plan.split("PushedFilters: [", 2)[-1]


def test_triangle_count_broadcasts_thresholded_edges(spark, sf_dir):
    """The ~4k-row thresholded edge list must broadcast on both hops of
    the 3-way self-join — no shuffle of an edge list this small."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_stay_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_pagerank")
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """AQE skew-join handling — the runtime half of the skew story beside
    join_salted_skew's explicit salting: a hot key whose partition dwarfs
    the median gets split into multiple tasks AT RUNTIME, visible as
    SortMergeJoin(skew=true) over an `AQEShuffleRead skewed` node in the
    final adaptive plan. Thresholds are lowered so local-scale data
    triggers the same machinery a 100 TB skewed join relies on."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        fact = spark.range(0, 220000).select(
            F.when(F.col("id") < 200000, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.rand(1).alias("v"),
        )
        dim = spark.range(0, 2000).select(
            (F.col("id") % 100).alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 4_400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """Runtime filtering — the third join-pruning tier beside static
    pushdown and AQE: a selective dimension filter spawns a
    bloom_filter_agg on the creation side and a might_contain predicate
    on the fact side, so fact rows that can't join are dropped BEFORE the
    shuffle. At 100 TB this converts a full fact shuffle into a filtered
    one without touching the query text."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert j.count() > 0


def test_observation_audits_pipeline_without_extra_jobs(spark, sf_dir):
    """with_audit counts rows at two points of a filter pipeline during
    the ONE real action — the scan-free auditing primitive."""
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.plans.observe import with_audit

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    staged, obs_in = with_audit(li, "ingest", F.count(F.lit(1)).alias("n"))
    kept, obs_kept = with_audit(
        staged.filter(F.col("l_quantity") > 30),
        "kept",
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
    )
    out = kept.groupBy("l_returnflag").count()
    out.collect()
    n_in, n_kept = obs_in.get["n"], obs_kept.get["n"]
    assert n_in == li.count()
    assert 0 < n_kept < n_in
    assert obs_kept.get["price"] > 0


def test_executed_metrics_expose_shuffle_accounting(spark, sf_dir):
    """executed_metrics/shuffle_summary read the physical operators' SQL
    metrics after an action: a grouped aggregate shuffles (records > 0),
    a narrow projection must NOT — asserting zero shuffle is the
    cheapest no-unnecessary-shuffle regression test."""
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.plans.observe import shuffle_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    agg.collect()
    s = shuffle_summary(agg)
    assert s["shuffle_records"] > 0
    assert s["shuffle_bytes"] > 0

    narrow = li.select("l_orderkey", "l_quantity").filter(
        F.col("l_quantity") > 30
    )
    narrow.collect()
    s2 = shuffle_summary(narrow)
    assert s2["shuffle_records"] == 0 and s2["shuffle_bytes"] == 0


def test_partitioned_scan_prunes_at_planning_time(spark, sf_dir):
    """scan_partitioned_pruned must carry the event_type predicate as a
    PartitionFilter (directory-level pruning) — not merely a pushed
    row-group filter."""
    plan = _plan(spark, sf_dir, "scan_partitioned_pruned")
    part = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in part


def test_zstd_recompression_shrinks_files(spark, sf_dir):
    """The zstd rewrite must actually compress: compare its on-disk size
    against an uncompressed copy of the same projection."""
    import os

    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.queries.formats import _scratch

    QUERIES["maintenance_recompress_zstd"](spark, sf_dir).collect()
    zstd_dir = _scratch(sf_dir, "zstd_lineitem")
    raw_dir = _scratch(sf_dir, "none_lineitem")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    li.write.mode("overwrite").option("compression", "none").parquet(raw_dir)

    def du(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    assert 0 < du(zstd_dir) < du(raw_dir)


def test_bucketed_join_query_plan(spark, sf_dir):
    """The declared join_bucketed_colocated query reads bucketed tables:
    no shuffle Exchange may appear below the join (the final groupBy's
    exchange on c_mktsegment is expected and fine)."""
    from multiomix_aws_emr_spark.queries import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_bucketed_colocated"](spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(c_custkey" not in plan, plan
        assert "Exchange hashpartitioning(o_custkey" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_variant_explode_no_filter_below_exchange(spark, sf_dir):
    """The r4 regression guard: the generator filter must NOT be inferred
    and pushed below the widening exchange (it re-evaluated the whole doc
    pipeline in the single pre-exchange scan task — 4.4s -> 0.74s fix)."""
    plan = _plan(spark, sf_dir, "variant_array_explode")
    # layout-independent: the only legitimate Filter in this plan is the
    # pos-null filter above the generate — NO Filter node anywhere may
    # re-evaluate the variant pipeline (parse_json / variant_get), which
    # is exactly what the regressed inferred-generator-filter did
    bad = [
        ln
        for ln in plan.splitlines()
        if "Filter" in ln and ("parse_json" in ln or "variant_get" in ln)
    ]
    assert not bad, bad
    # generator outer mode: no size(...)>0 inferred filter anywhere
    assert "size(variant_get" not in plan


def test_udaf_exchange_pinned_against_aqe_coalesce(spark, sf_dir):
    """The grouped-map UDAF must keep its explicit-width exchange
    (REPARTITION_BY_NUM) — AQE coalescing it to one partition serializes
    every Python call (3.0s -> 0.77s fix)."""
    plan = _plan(spark, sf_dir, "udaf_group_stats")
    assert "REPARTITION_BY_NUM" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_domain_mix_rates_broadcast_back(spark, sf_dir):
    """pipeline_domain_mix: computed rates (|domains| rows) must broadcast
    onto the corpus scan, never shuffle the corpus for the join."""
    plan = _plan(spark, sf_dir, "pipeline_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_containment_query_side_broadcasts(spark, sf_dir):
    """dedup_containment: the inverted-index probe must be a broadcast
    hash join (corpus side never shuffles for the candidate join)."""
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert "BroadcastHashJoin" in plan


def test_q18_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """TPC-H Q18's grouped-HAVING IN-subquery must plan as an aggregate
    feeding a LEFT SEMI join, not a correlated re-execution."""
    plan = _plan(spark, sf_dir, "sql_large_volume_customer")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q7_nation_hops_broadcast(spark, sf_dir):
    """TPC-H Q7 joins nation twice under a disjunction: both hops must
    broadcast (plus customer/supplier dims) — no shuffled dim join."""
    plan = _plan(spark, sf_dir, "sql_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3


def test_quantize_int8_is_map_only(spark, sf_dir):
    """The int8 quantization pass must plan as scan + projects with ZERO
    exchange — per-vector scale and elements are row-local built-ins, so
    nothing may shuffle at any corpus size."""
    plan = _plan(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan, plan
    assert "FileScan parquet" in plan


def test_decontaminate_eval_inventory_broadcasts(spark, sf_dir):
    """decontaminate_ngram: the eval gram inventory must broadcast onto
    the training-gram stream (map-side probe — never a shuffled join of
    the corpus-sized explode), with the whole chain JVM-side."""
    plan = _plan(spark, sf_dir, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_contamination_spans_probe_is_broadcast_semi(spark, sf_dir):
    """contamination_spans: the eval-inventory probe must be a broadcast
    LEFT SEMI hash join over the positional gram explode — never a
    shuffled join of the corpus side — and the merge must be the only
    window, with no Python anywhere."""
    from multiomix_aws_emr_spark.operators.dedup import contamination_spans
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    spans = contamination_spans(
        d.filter("doc_id % 20 <> 0"),
        d.filter("doc_id % 20 = 0"),
        id_col="doc_id",
        text_col="text",
        k=8,
        window=2,
    )
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert spans.count() > 0


def test_pipeline_decontaminate_cut_plan(spark, sf_dir):
    """pipeline_decontaminate_cut: the eval-inventory probe must stay a
    broadcast semi-join (never a shuffled join of the corpus-sized gram
    explode), the span->corpus join must be on the doc key with the
    whole cut in JVM expressions (no Python stage), and the final
    per-lang aggregate must have a map-side partial."""
    plan = _plan(spark, sf_dir, "pipeline_decontaminate_cut")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
