"""Relational core: scans, projections, filters, joins, sort/limit, set ops.

Declared queries from SURVEY.md §2.2 (semantics = Appendix A). Reference
analogs cited per query; everything here is pure DataFrame API so Catalyst
does pushdown/pruning/join-selection — no hand-scheduling.

Scale notes (100 TB design point):
- Dimension joins (`nation`, `region`, inline VALUES, `part` at small SF)
  are explicitly ``F.broadcast``-hinted: no shuffle of the fact side.
- Fact-fact joins (orders x customer) are left to Catalyst: sort-merge with
  AQE skew splitting; both sides shuffle on the join key exactly once.
- The theta/range join broadcasts the small side to avoid a cartesian
  shuffle (BroadcastNestedLoopJoin); at scale the small side must stay
  under the broadcast threshold or be banded (see operators/asof.py for
  the banding pattern).
- The as-of join deliberately avoids the naive range-join + re-aggregate
  (which explodes to O(purchases x signups) per user) in favor of a single
  shuffle by user + ordered window scan — O(n log n) per user partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.functions.projection import project_by_mask
from multiomix_aws_emr_spark.queries.registry import fact_bytes, query
from multiomix_aws_emr_spark.sources.tables import events_v, load, with_events_v

# --------------------------------------------------------------------------
# scans / projections
# --------------------------------------------------------------------------


@query(
    "scan_projection",
    oracle="SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned parquet scan (ref: utils.py:53 TSV scan, R1/R6).

    The projection reaches the scan: ReadSchema lists only 3 columns.
    """
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


_INLINE_ROWS = [(k, "even" if k % 2 == 0 else "odd") for k in range(25)]
_INLINE_VALUES_SQL = ", ".join(f"({k},'{tag}')" for k, tag in _INLINE_ROWS)


@query(
    "scan_inline_values",
    oracle=(
        "SELECT n.n_nationkey, n.n_name, v.tag "
        f"FROM (VALUES {_INLINE_VALUES_SQL}) AS v(k, tag) "
        "JOIN nation n ON n.n_nationkey = v.k"
    ),
)
def scan_inline_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-list -> distributed dataset (ref: sc.parallelize,
    metaheuristics.py:207/248, R7) via createDataFrame + broadcast join."""
    vals = spark.createDataFrame(_INLINE_ROWS, schema="k INT, tag STRING")
    nation = load(spark, sf_dir, "nation")
    return nation.join(
        F.broadcast(vals), nation.n_nationkey == vals.k, "inner"
    ).select("n_nationkey", "n_name", "tag")


@query(
    "project_columns",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-based projection (ref: utils.py:75-77, R6)."""
    return load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")


@query(
    "project_mask",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
)
def project_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional 0/1-mask projection (ref: utils.py:66-74 `get_columns_from_df`
    positional branch, R6). Mask [1,0,0,1,0,1,0,0,0,0,0] over lineitem's 11
    columns in schema order -> columns 0, 3, 5."""
    mask = [1, 0, 0, 1, 0, 1, 0, 0, 0, 0, 0]
    return project_by_mask(load(spark, sf_dir, "lineitem"), mask)


@query(
    "cast_types",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(o_orderkey AS DOUBLE) AS orderkey_d, "
        "CAST(ROUND(o_totalprice, 0) AS BIGINT) AS totalprice_i, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate_d "
        "FROM orders"
    ),
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-cast surface (ref: utils.py:35 float64 cast, utils.py:59-62
    bool/float clinical casts, R2/R5). The date column round-trips
    date -> ISO string because raw DATE output is not portably hashable
    across engines (Spark hands pandas ``datetime.date`` objects, DuckDB
    ``datetime64`` — same value, different canonical form)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("double").alias("orderkey_d"),
        F.round("o_totalprice", 0).cast("bigint").alias("totalprice_i"),
        F.col("o_orderdate").cast("date").cast("string").alias("orderdate_d"),
    )


# --------------------------------------------------------------------------
# filters
# --------------------------------------------------------------------------


@query(
    "filter_predicate",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_discount "
        "FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05"
    ),
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive range predicate, pushed to the parquet scan (R4)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


@query(
    "filter_finite",
    oracle=with_events_v(
        "SELECT event_id, ROUND(value, 2) AS value_r FROM events_v "
        "WHERE value IS NOT NULL AND isfinite(value)"
    ),
)
def filter_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL/NaN/±Inf row filter (ref: utils.py:34 `~df.isin([nan, inf,
    -inf]).any('columns')`, R4)."""
    ev = events_v(spark, sf_dir)
    v = F.col("value")
    return ev.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    ).select("event_id", F.round(v, 2).alias("value_r"))


@query(
    "filter_exists_semi",
    oracle=(
        "SELECT c_custkey, c_name FROM customer c "
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
    ),
)
def filter_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (ref analog: validations.py:4-18 linear
    containment scan, R39)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


@query(
    "join_inner",
    oracle=(
        "SELECT o.o_orderkey, ROUND(o.o_totalprice, 2) AS o_totalprice_r, "
        "c.c_name, c.c_mktsegment "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join; Catalyst picks SMJ/BHJ, AQE may demote to
    broadcast at runtime (closure — reference has no joins)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice_r"),
        "c_name",
        "c_mktsegment",
    )


@query(
    "join_broadcast",
    oracle=(
        "SELECT l.l_orderkey, l.l_linenumber, p.p_brand, p.p_type "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"
    ),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: the dimension ships to every executor,
    the fact side never shuffles (ref: sc.broadcast of X, core.py:167-169,
    R12/P1)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner").select(
        "l_orderkey", "l_linenumber", "p_brand", "p_type"
    )


@query(
    "join_multiway",
    oracle=(
        "SELECT c.c_custkey, n.n_name, r.r_name "
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey"
    ),
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake chain: both dims broadcast — zero shuffles of customer."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@query(
    "join_left_outer",
    oracle=(
        "SELECT c.c_custkey, o.o_orderkey "
        "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey"
    ),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving outer join (fixture guarantees order-less customers)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


@query(
    "join_anti",
    oracle=(
        "SELECT c.c_custkey, c.c_name FROM customer c "
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
    ),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta_range",
    oracle=(
        "SELECT p.p_partkey, s.s_suppkey FROM part p JOIN supplier s "
        "ON p.p_retailprice BETWEEN s.s_acctbal - 500 AND s.s_acctbal + 500"
    ),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join. The small side is broadcast so the plan is a
    BroadcastNestedLoopJoin — each fact partition streams once against the
    in-memory dimension instead of a shuffled cartesian product."""
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    cond = (F.col("p_retailprice") >= F.col("s_acctbal") - 500) & (
        F.col("p_retailprice") <= F.col("s_acctbal") + 500
    )
    return p.join(F.broadcast(s), cond, "inner").select("p_partkey", "s_suppkey")


@query(
    "join_range_binned",
    oracle=(
        "SELECT p.p_partkey, s.s_suppkey FROM part p JOIN supplier s "
        "ON p.p_retailprice BETWEEN s.s_acctbal - 500 AND s.s_acctbal + 500"
    ),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same band join as ``join_theta_range``, on the scale path: bin
    quantization turns interval containment into a shuffled EQUI-join on a
    long bin key (operators/rangejoin.py) — no nested loop, no requirement
    that either side fit in memory. Bin width 1000 = the band length, so
    each supplier interval lands in at most 2 bins."""
    from multiomix_aws_emr_spark.operators.rangejoin import range_join_binned

    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return range_join_binned(
        p,
        s,
        left_val="p_retailprice",
        right_lo=F.col("s_acctbal") - 500,
        right_hi=F.col("s_acctbal") + 500,
        bin_width=1000.0,
    ).select("p_partkey", "s_suppkey")


#: Optimizer confs for the runtime-bloom demonstration, scoped to the
#: query's own build, actions and sinks (registry ``extra_confs`` —
#: restored the moment each returns). Each maps a fixture-scale stand-in
#: to the 100 TB reality it reproduces:
_RUNTIME_BLOOM_CONFS = {
    # At 100 TB the ~1/5-selective orders slice is far beyond any broadcast
    # threshold, so the real plan is a shuffle join; fixtures would pick
    # BHJ (making a runtime filter moot), so disable broadcast here.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Stock gate: only inject when the application-side scan exceeds 10 GB
    # — correct at warehouse scale, never met by fixtures. 0 keeps the
    # injected plan reproducible (and plan-asserted) at test scale.
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    # The creation side is aggregated into one bloom bitmap, so it must be
    # bounded; raise the 10 MB stock bound enough for the sf0.1 slice. At
    # real scale a tighter dim predicate meets the stock default — and any
    # creationSideThreshold raise MUST be paired with expectedNumItems/
    # numBits raises: the stock 1M-item/1MB sketch saturates past ~1M
    # creation-side keys and quietly halves the prune (measured at 100x;
    # BASELINE.md NDV-sizing rule).
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
}


@query(
    "join_runtime_bloom",
    oracle=(
        # per-TERM rounding before the sum: a sum of 2-decimal values is an
        # exact multiple of 0.01 (+/- 1e-11 float noise), so the outer
        # ROUND can never land on a half-tie the way a raw double sum can
        # (observed: 47120.995 summing in different orders). The +5e-9
        # term epsilon settles the engines' opposite treatments of
        # exact-half terms (price*(1-disc) lands on .xx5 often: Spark
        # rounds the exact binary expansion, DuckDB the decimal-nearest):
        # far above the double ulp at these magnitudes, far below the
        # 0.005 rounding granularity, so ONLY boundary terms move — both
        # engines then round them up together.
        # epoch-ms key, not the raw timestamp: the harness convention for
        # hash-compared time columns (Q3 casts to STRING, events queries
        # emit *_ms — both sides hash bigints, never engine datetimes)
        "SELECT epoch_ms(o.o_orderdate) AS order_date_ms, "
        "ROUND(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) + 5e-9, 2)), "
        "2) AS urgent_rev, "
        "CAST(COUNT(*) AS BIGINT) AS n_items "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderpriority = '1-URGENT' "
        "GROUP BY epoch_ms(o.o_orderdate)"
    ),
    extra_confs=_RUNTIME_BLOOM_CONFS,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime row-level bloom-filter join — the scale path BETWEEN
    ``join_broadcast`` and a bare sort-merge join: when the selectively
    filtered dim side is too big to broadcast, Catalyst's
    InjectRuntimeFilter rewrites the FACT scan to
    ``might_contain(bloom_filter_agg(xxhash64(o_orderkey)))`` built from
    the dim slice, so ~4/5 of lineitem is dropped BEFORE its shuffle — the
    exchange that dominates a 100 TB fact join. The plan is declarative
    DataFrame code; only the injection-gating confs are set (scoped, via
    the registry's ``extra_confs``), each annotated with its true-scale
    meaning above. Injection is plan-asserted in
    tests/test_runtime_bloom.py; BASELINE.md records the complementary
    negative result (the incremental-dedup shape does NOT qualify — its
    creation side lacks a recognizably selective predicate)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # NTZ -> LTZ cast is exact under the UTC session timezone (the
        # ts_ms_expr pattern) and matches DuckDB epoch_ms
        .groupBy(
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "order_date_ms"
            )
        )
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        + F.lit(5e-9),
                        2,
                    )
                ),
                2,
            ).alias("urgent_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_asof_event",
    oracle=with_events_v(
        "SELECT p.event_id, p.user_id, MAX(s.ts_ms) AS signup_ts_ms "
        "FROM events_v p JOIN events_v s "
        "ON s.user_id = p.user_id AND s.event_type = 'signup' "
        "AND s.ts_ms <= p.ts_ms "
        "WHERE p.event_type = 'purchase' "
        "GROUP BY p.event_id, p.user_id"
    ),
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest signup at-or-before each purchase, per user.

    Spark has no native ASOF JOIN; the scalable plan is NOT the oracle's
    range join + re-aggregate (quadratic per user) but a union + single
    window scan: one shuffle by user_id, then `last(signup_ts, ignorenulls)`
    over the time-ordered partition. Implemented generically in
    operators/asof.py.
    """
    from multiomix_aws_emr_spark.operators.asof import asof_latest_prior

    ev = events_v(spark, sf_dir)
    return asof_latest_prior(
        ev,
        user_col="user_id",
        time_col="ts_ms",
        type_col="event_type",
        anchor_type="purchase",
        lookup_type="signup",
        id_col="event_id",
        out_col="signup_ts_ms",
    )


_TEMPORAL_DIM_ORACLE = (
    "WITH events_v AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, "
    "event_type, value, props FROM events), "
    "v AS (SELECT user_id, ts_ms AS dim_ts_ms, "
    "MAX(event_id) AS dim_event_id, "
    "ROUND(arg_max(value, event_id), 2) AS dim_value "
    "FROM events_v WHERE event_type = 'view' GROUP BY 1, 2), "
    "p AS (SELECT event_id, user_id, ts_ms FROM events_v "
    "WHERE event_type = 'purchase') "
    "SELECT p.event_id, p.user_id, p.ts_ms, "
    "v.dim_ts_ms, v.dim_event_id, v.dim_value "
    "FROM p ASOF JOIN v ON p.user_id = v.user_id "
    "AND p.ts_ms >= v.dim_ts_ms"
)


@query("join_temporal_dim", oracle=_TEMPORAL_DIM_ORACLE)
def join_temporal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal table join (Flink FOR SYSTEM_TIME AS OF): each purchase
    picks up the full payload of the user's view-version valid at
    purchase time — not just the match timestamp (that's
    `join_asof_event`), the dimension attributes themselves.

    The oracle is DuckDB's native ASOF JOIN; Spark has none, so the plan
    is the union + single-window-scan temporal join of operators/asof.py
    (one shuffle on user_id, struct payload carried forward with
    `last(ignorenulls)`) — linear per key where a range-join formulation
    is quadratic. Dim versions are pre-deduplicated per (user, ts) with
    `max_by` on event_id so tie order is engine-independent.
    """
    from multiomix_aws_emr_spark.operators.asof import temporal_join

    ev = events_v(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts_ms").alias("dim_ts_ms"))
        .agg(
            F.max("event_id").alias("dim_event_id"),
            F.round(F.max_by("value", "event_id"), 2).alias("dim_value"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    return temporal_join(
        purchases,
        views.withColumn("ts_ms", F.col("dim_ts_ms")),
        key_cols=["user_id"],
        time_col="ts_ms",
        payload_cols=["dim_ts_ms", "dim_event_id", "dim_value"],
    )


# --------------------------------------------------------------------------
# sort / limit
# --------------------------------------------------------------------------


@query(
    "sort_limit_topk",
    oracle=(
        "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price_r FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    ),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with total tie-break (ref: argmax black-hole selection +
    fewer-features tie-break, metaheuristics.py:169-192/670-681, R14/R15).
    Physical plan is TakeOrderedAndProject — per-partition heaps, no global
    sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price_r"))
    )


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------


@query(
    "set_union_all",
    oracle=(
        "SELECT c_nationkey AS k, 'c' AS src FROM customer "
        "UNION ALL SELECT s_nationkey, 's' FROM supplier"
    ),
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"), F.lit("c").alias("src")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"), F.lit("s").alias("src")
    )
    return c.unionByName(s)


@query(
    "set_union_distinct",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "UNION SELECT s_nationkey FROM supplier"
    ),
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct()


@query(
    "set_intersect",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "INTERSECT SELECT s_nationkey FROM supplier"
    ),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@query(
    "set_except",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "EXCEPT SELECT s_nationkey FROM supplier"
    ),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.subtract(s)  # subtract == EXCEPT DISTINCT (exceptAll is bag-diff)


@query(
    "set_intersect_all",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "INTERSECT ALL SELECT s_nationkey FROM supplier"
    ),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersection (multiplicity = min of the two sides) —
    the ALL variant completing the set-op closure; plans as a single
    count-per-side aggregate + generate, one shuffle on the key."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersectAll(s)


@query(
    "set_except_all",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "EXCEPT ALL SELECT s_nationkey FROM supplier"
    ),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics difference (multiplicity = left minus right, floored
    at zero) — ``exceptAll``, the ALL twin of ``set_except``."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.exceptAll(s)


@query(
    "unpivot_long",
    oracle=(
        "SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val "
        "FROM part UNION ALL "
        "SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val "
        "FROM part"
    ),
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``melt``) — the inverse of ``pivot_wide`` and the
    Spark-native form of the reference's transpose machinery (R1,
    `scripts/utils.py:53`): narrow projection + Expand node, no shuffle at
    all (verified: Generate/Expand is partition-local)."""
    return load(spark, sf_dir, "part").unpivot(
        "p_partkey",
        [F.col("p_size").cast("double").alias("p_size"), F.col("p_retailprice")],
        "attr",
        "val",
    )


# --------------------------------------------------------------------------
# flagship (entry() smoke query, SURVEY.md §7.1)
# --------------------------------------------------------------------------


@query(
    "flagship_revenue_by_region",
    oracle=(
        "SELECT r.r_name, n.n_name, COUNT(*) AS n_orders, "
        "ROUND(SUM(o.o_totalprice), 2) AS revenue "
        "FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey "
        "JOIN customer c ON c.c_nationkey = n.n_nationkey "
        "JOIN orders o ON o.o_custkey = c.c_custkey "
        "GROUP BY r.r_name, n.n_name "
        "ORDER BY revenue DESC, r_name, n_name LIMIT 10"
    ),
    # Rule-2 sizing hint: the orders-customer join is the widest exchange
    # (the dims broadcast). Floors to the baseline at fixture scale.
    sizing_hint=fact_bytes("orders"),
)
def flagship_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation: scan -> 3 joins (dims broadcast) -> hash
    agg -> top-k. The M0 end-to-end slice of SURVEY.md §7.1."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "r_name", "n_name")
        .limit(10)
    )


_Q3_SQL = (
    "SELECT o_orderkey, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15' "
    "GROUP BY o_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, o_date, o_orderkey LIMIT 10"
)


@query("sql_shipping_priority", oracle=_Q3_SQL)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL entry path: TPC-H Q3 (shipping priority) submitted as ONE
    ANSI SQL string through ``spark.sql`` over registered views — the
    IDENTICAL text is the DuckDB oracle, demonstrating that the engine's
    SQL surface is dialect-clean. Catalyst plans it exactly like the
    DataFrame queries (broadcast dim hop on customer, shuffled agg,
    TakeOrderedAndProject for the top-10)."""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


_Q10_SQL = (
    "SELECT c_custkey, c_name, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "ROUND(c_acctbal, 2) AS acctbal, n_name "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, c_acctbal, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20"
)


@query("sql_returned_items", oracle=_Q10_SQL)
def sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) through the raw-SQL path:
    4-way join (two broadcastable dims), grouped revenue, global top-20 —
    Catalyst plans the LIMIT as TakeOrderedAndProject (no full sort) and
    broadcasts customer/nation; the identical text runs in DuckDB as the
    oracle. Deterministic total order via the c_custkey tiebreak."""
    for t in ("customer", "orders", "lineitem", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q10_SQL)


_Q4_SQL = (
    "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count "
    "FROM orders "
    "WHERE o_orderdate >= DATE '1995-01-01' "
    "AND o_orderdate < DATE '1995-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


@query("sql_order_priority", oracle=_Q4_SQL)
def sql_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking) through the raw-SQL path:
    a correlated EXISTS that Catalyst decorrelates to a LEFT SEMI join on
    l_orderkey (asserted in tests/test_plans.py) — no subquery per row,
    one shuffle, identical text in both engines. (The fixture lacks
    commit/receipt dates, so the existence predicate is 'any line shipped
    after the order date'; the plan shape is Q4's.)"""
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q4_SQL)


_SALTED_ORACLE = (
    "SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, "
    "ROUND(o.o_totalprice, 2) AS o_totalprice_r "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
)


@query("join_salted_skew", oracle=_SALTED_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew mitigation by explicit salting (operators/skew.py):
    the probe (lineitem) scatters each row across 8 salt sub-keys, the
    build (orders) replicates to all of them, and the join key becomes
    (key, salt) — a hot order's lines spread over 8 tasks instead of
    hanging one straggler. The salt only changes ROW PLACEMENT, never the
    match set, so the oracle is the PLAIN join: parity proves the rewrite
    is semantics-preserving, which is the whole contract of the
    technique. (AQE's skew splitting covers sort-merge joins at runtime;
    salting is the explicit tool for the paths AQE can't rewrite.)"""
    from multiomix_aws_emr_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias(
            "o_totalprice_r"
        )
    )
    return salted_join(
        li,
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        n_salts=8,
    ).select("l_orderkey", "l_linenumber", "o_orderstatus", "o_totalprice_r")


_FULL_OUTER_ORACLE = """
WITH oc AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(c.c_custkey, oc.o_custkey) AS custkey,
       c.c_name, oc.n_orders
FROM customer c FULL OUTER JOIN oc ON c.c_custkey = oc.o_custkey
"""


@query("join_full_outer", oracle=_FULL_OUTER_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: customers with no orders keep NULL counts, order
    keys with no customer row keep NULL names — both dangling sides
    preserved. Plans as sort-merge (full outer can't broadcast either
    side); the pre-aggregation shrinks the right side to one row per key
    so the shuffle carries counts, not order rows."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(oc, c.c_custkey == oc.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
    )


_NULL_SAFE_ORACLE = """
WITH cn AS (
  SELECT NULLIF(c_nationkey, 0) AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM customer GROUP BY 1
), sn AS (
  SELECT NULLIF(s_nationkey, 0) AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
  FROM supplier GROUP BY 1
)
SELECT cn.nk AS nationkey, cn.n_cust, sn.n_supp
FROM cn JOIN sn ON cn.nk IS NOT DISTINCT FROM sn.nk
"""


@query("join_null_safe", oracle=_NULL_SAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL-keyed groups match each other instead of vanishing — the
    semantics ETL needs when NULL is a real category (here nation 0 is
    nulled to stand in for 'unknown'). Still a hash-partitionable
    equi-join: Spark shuffles NULL like any other key value under <=>,
    no fallback to nested loops (asserted in tests/test_plans.py)."""
    c = (
        load(spark, sf_dir, "customer")
        .select(F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nk_c"))
        .groupBy("nk_c")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .select(F.nullif(F.col("s_nationkey"), F.lit(0)).alias("nk_s"))
        .groupBy("nk_s")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, F.col("nk_c").eqNullSafe(F.col("nk_s"))).select(
        F.col("nk_c").alias("nationkey"), "n_cust", "n_supp"
    )


_UNION_EVOLVE_ORACLE = """
SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice_r,
       o_orderpriority
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL BY NAME
SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice_r,
       CAST(NULL AS VARCHAR) AS o_orderpriority
FROM orders WHERE o_orderkey % 3 = 1
"""


@query("set_union_by_name_evolution", oracle=_UNION_EVOLVE_ORACLE)
def set_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old extract lacking two columns unions
    with the current one by COLUMN NAME (``unionByName(allowMissingColumns
    =True)``), the missing fields padding to NULL — the append-only data
    lake pattern when upstream schemas grow. Positional UNION would
    silently misalign; by-name is the scale-safe operator (DuckDB's
    UNION ALL BY NAME is the oracle twin)."""
    o = load(spark, sf_dir, "orders")
    new_extract = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice_r"),
        "o_orderpriority",
    )
    old_extract = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_orderstatus"
    )
    return new_extract.unionByName(old_extract, allowMissingColumns=True)


_TOPK_HASH_ORACLE = """
WITH h AS (
  SELECT lang, doc_id,
         CAST('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS hk
  FROM documents
), r AS (
  SELECT lang, doc_id, hk,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
  FROM h
)
SELECT lang, doc_id, rn FROM r WHERE rn <= 5
"""


@query("sample_topk_hash", oracle=_TOPK_HASH_ORACLE)
def sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum reservoir: the 5 docs with the smallest
    seeded portable hash per language — a fixed-size sample that is
    IDENTICAL on every engine, every run, any partitioning (a true
    random reservoir is run-dependent; hash order is the auditable
    substitute). One shuffle on lang; rank via a single window pass. At
    extreme stratum cardinality the same result comes from a
    ``min_by(array, k)``-style partial aggregate — no global sort either
    way."""
    from multiomix_aws_emr_spark.functions.porthash import phash60
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    h = d.select(
        "lang",
        "doc_id",
        phash60(F.col("doc_id").cast("string"), seed=7).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
    )


_CORR_SCALAR_SQL = (
    "SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice_r "
    "FROM orders o "
    "WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice) FROM orders o2 "
    "WHERE o2.o_custkey = o.o_custkey)"
)


@query("sql_correlated_scalar", oracle=_CORR_SCALAR_SQL)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 50% above their customer's own
    average) through the raw-SQL path: Catalyst decorrelates the
    per-row subquery into ONE aggregate over orders + an equi-join back
    — no re-execution per outer row (plan-asserted: a single extra scan,
    no nested loops). The identical text runs in DuckDB as the oracle."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORR_SCALAR_SQL)


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


_Q5_SQL = (
    "SELECT n_name, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey "
    "AND o_orderdate >= DATE '1995-01-01' "
    "AND o_orderdate < DATE '1999-01-01' "
    "GROUP BY n_name ORDER BY revenue DESC, n_name"
)


@query("sql_local_supplier_volume", oracle=_Q5_SQL)
def sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) as ONE dialect-clean SQL text on
    both engines: a 6-way join where the interesting predicate
    (c_nationkey = s_nationkey) correlates two dimension hops. Catalyst
    broadcasts the four dimension tables and keeps the two fact-side
    shuffles; the region filter prunes before the nation join."""
    _register_views(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    return spark.sql(_Q5_SQL)


_Q6_SQL = (
    "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue, "
    "CAST(COUNT(*) AS BIGINT) AS n_lines "
    "FROM lineitem "
    "WHERE l_shipdate >= DATE '1996-01-01' "
    "AND l_shipdate < DATE '1997-01-01' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
)


@query("sql_revenue_change", oracle=_Q6_SQL)
def sql_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): a pure scan-side query —
    every predicate (date range, discount band, quantity cap) reaches
    the parquet scan as a pushed filter and the aggregate is one
    map-side-combined global SUM. The plan-audit test asserts the
    PushedFilters list is non-trivial: at 100 TB this query IS its
    scan."""
    _register_views(spark, sf_dir, "lineitem")
    return spark.sql(_Q6_SQL)


_Q14_SQL = (
    "SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
    "/ SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= DATE '1997-01-01' "
    "AND l_shipdate < DATE '1997-07-01'"
)


@query("sql_promo_revenue", oracle=_Q14_SQL)
def sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation over a
    fact-dimension join — part broadcasts, the date filter pushes to the
    lineitem scan, and the CASE ratio folds into one aggregate pass."""
    _register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q14_SQL)


_Q19_SQL = (
    "SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "CAST(COUNT(*) AS BIGINT) AS n_lines "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity >= 1 AND l_quantity <= 21) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 "
    "AND l_quantity >= 10 AND l_quantity <= 30) "
    "OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 "
    "AND l_quantity >= 20 AND l_quantity <= 40)"
)


@query("sql_disjunctive_join_filter", oracle=_Q19_SQL)
def sql_disjunctive_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape (discounted revenue under a 3-arm disjunctive
    predicate spanning BOTH join sides): the optimizer-stressing case
    where per-side implied predicates (p_brand IN (...), l_quantity
    bounds) must be extracted from the OR to prune each scan before the
    join. Catalyst derives them; the join itself stays a broadcast hash
    join on the part key."""
    _register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q19_SQL)


_LATERAL_SQL = (
    "SELECT r.r_name, x.c_name, x.bal "
    "FROM region r, LATERAL ("
    "  SELECT c_name, ROUND(c_acctbal, 2) AS bal "
    "  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "  WHERE n.n_regionkey = r.r_regionkey "
    "  ORDER BY c_acctbal DESC, c_name LIMIT 2) x"
)


@query("sql_lateral_topk", oracle=_LATERAL_SQL)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers by balance per
    region) — the for-each-row-run-a-subquery surface, identical SQL
    text on both engines. Catalyst DECORRELATES it: the per-region
    ORDER BY/LIMIT becomes a rank-filter over a join, so the plan is the
    same window top-k every dashboard query compiles to — no per-row
    re-execution survives optimization (DecorrelateInnerQuery), which is
    why LATERAL is safe at fact-table cardinality here."""
    _register_views(spark, sf_dir, "region", "nation", "customer")
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_SPARK_SQL = """
WITH RECURSIVE chain(start_key, node, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= 200
  UNION ALL
  SELECT start_key, node DIV 2, depth + 1 FROM chain WHERE node > 1
)
SELECT CAST(depth AS INT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(start_key) AS BIGINT) AS sum_start
FROM chain GROUP BY depth
"""

_RECURSIVE_ORACLE = """
WITH RECURSIVE chain(start_key, node, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= 200
  UNION ALL
  SELECT start_key, node // 2, depth + 1 FROM chain WHERE node > 1
)
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(start_key) AS BIGINT) AS sum_start
FROM chain GROUP BY depth
"""


@query("sql_recursive_chain", oracle=_RECURSIVE_ORACLE)
def sql_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk each seed part's
    halving chain p -> p DIV 2 -> ... -> 1 (a synthetic parent edge — the
    fixtures carry no natural hierarchy) and profile chain population per
    depth. Execution is Catalyst's iterative union-loop: one join/filter
    round per level, depth bounded by log2(max key) — the same bounded-
    iteration shape as dedup_minhash_components' label propagation, but
    expressed purely in SQL. DuckDB runs the identical CTE (dialect diff:
    DIV vs //)."""
    _register_views(spark, sf_dir, "part")
    return spark.sql(_RECURSIVE_SPARK_SQL)


_BUCKETED_JOIN_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
"""


@query("join_bucketed_colocated", oracle=_BUCKETED_JOIN_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join off bucketed storage (the 100 TB
    strategy for repeatedly-joined facts): customer and orders are
    written ONCE as bucketed tables hash-partitioned on the customer key
    (sources/bucketed.py, 8 buckets, sorted within buckets), then the
    join reads matching buckets side by side — the physical plan carries
    NO shuffle Exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_has_no_exchange and again in
    test_bucketed_join_query_plan). At production scale the bucketed
    write amortizes one shuffle across every future join on that key.
    The bucketed copy is cached on disk per sf and only rebuilt when
    missing, so repeat runs measure the JOIN, not the one-time layout."""
    import os as _os

    from multiomix_aws_emr_spark.queries.formats import _scratch
    from multiomix_aws_emr_spark.sources.bucketed import write_bucketed

    # table names carry the sf tag: the catalog is session-global, so a
    # session touching two sf dirs must not alias one path under the other
    tag = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    cust_tbl, ord_tbl = f"bkt_customer_{tag}", f"bkt_orders_{tag}"
    for name, path, table, keys in (
        ("customer", _scratch(sf_dir, "bucketed_customer"), cust_tbl,
         ["c_custkey"]),
        ("orders", _scratch(sf_dir, "bucketed_orders"), ord_tbl,
         ["o_custkey"]),
    ):
        exists = _os.path.isdir(path) and any(
            f.endswith(".parquet") for f in _os.listdir(path)
        )
        if not exists or not spark.catalog.tableExists(table):
            write_bucketed(
                load(spark, sf_dir, name),
                table=table,
                path=path,
                by=keys,
                n_buckets=8,
                sort_cols=keys,
            )
    c = spark.table(cust_tbl)
    o = spark.table(ord_tbl).filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_Q18_SQL = (
    "SELECT c_name, c_custkey, o_orderkey, "
    "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date, "
    "ROUND(o_totalprice, 2) AS totalprice, "
    "ROUND(SUM(l_quantity), 2) AS sum_qty "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_orderkey IN ("
    "  SELECT l_orderkey FROM lineitem "
    "  GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) "
    "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
    "ORDER BY totalprice DESC, o_orderkey LIMIT 20"
)


@query(
    "sql_large_volume_customer",
    oracle=_Q18_SQL,
    # Rule-2 sizing hint: the widest exchanges (the HAVING subquery's
    # groupBy l_orderkey and the 3-way join) shuffle the lineitem fact.
    # At sf0.1 this floors to the session baseline (plan unchanged); at
    # the 1000x probe (14 GB fact) it picks ~160 hands-free — within 4%
    # of the hand-tuned 256 record and 1.2x over the core-count default.
    sizing_hint=fact_bytes("lineitem"),
)
def sql_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) through the raw-SQL path: the
    grouped-HAVING IN-subquery is the interesting plan — Catalyst
    decorrelates it to an aggregate feeding a LEFT SEMI join on
    l_orderkey, so the qualifying-order set is computed once and
    semi-joins the fact scan (no correlated re-execution, no distinct
    blowup). Identical text runs in DuckDB as the oracle; top-20 via
    TakeOrderedAndProject with the o_orderkey tiebreak."""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q18_SQL)


_Q7_SQL = (
    "SELECT supp_nation, cust_nation, l_year, "
    "ROUND(SUM(volume), 2) AS revenue FROM ("
    "  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year, "
    "         l_extendedprice * (1 - l_discount) AS volume "
    "  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
    "  JOIN orders ON o_orderkey = l_orderkey "
    "  JOIN customer ON c_custkey = o_custkey "
    "  JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "  JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_2') "
    "      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_3'))"
    ") GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year"
)


@query("sql_volume_shipping", oracle=_Q7_SQL)
def sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations) through the raw-SQL
    path: a 6-way join where the nation dimension joins TWICE under a
    symmetric two-arm disjunction. Catalyst broadcasts both nation hops
    and the disjunctive filter prunes after the second hop; the fact
    table shuffles only for its two key joins. EXTRACT(YEAR ...) is cast
    to INTEGER so both engines emit the same type; identical SQL text is
    the DuckDB oracle."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q7_SQL)


_PIPE_SQL = """
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
"""

_PIPE_ORACLE = (
    "SELECT o_orderpriority, COUNT(*) AS n_orders, "
    "ROUND(SUM(o_totalprice), 2) AS total "
    "FROM orders WHERE o_orderstatus = 'F' "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


@query("sql_pipe_groupflow", oracle=_PIPE_ORACLE)
def sql_pipe_groupflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (`FROM t |> WHERE ... |> AGGREGATE ...
    GROUP BY ... |> ORDER BY`) — a user-visible query surface a
    migrating user may write, pinned here so a regression in the pipe
    parser (or a plan divergence between the pipe and ANSI forms) fails
    the gate. The pipe chain lowers to the IDENTICAL logical plan as
    the ANSI GROUP BY (filter -> partial+final hash agg -> sort), so
    the ORACLE is that ANSI form; AGGREGATE emits grouping columns
    first, matching the oracle's column order. DuckDB does not parse
    pipe syntax, which is exactly why the oracle is the ANSI twin."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_PIPE_SQL)
