"""The Python-UDF surface: scalar pandas UDF, grouped-map UDAF.

These two queries deliberately route through Python to exercise the Arrow
exchange path the omics pipeline depends on (the fitness evaluation of
SURVEY.md §2.1 R9/R26/R27 is a grouped-map UDF). Everything else in the
engine stays JVM-side; when Python is unavoidable, it is ALWAYS
Arrow-batched (pandas_udf / applyInPandas), never row-at-a-time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from multiomix_aws_emr_spark.queries.registry import query
from multiomix_aws_emr_spark.sources.tables import events_v, with_events_v


def _binarize_tanh_fn(v: pd.Series) -> pd.Series:
    """R17's star-position update rule, derandomized: keep the bit iff
    |tanh(x)| > 0.6 (ref: metaheuristics.py:696-705, threshold default
    :479). NaN/NULL compare False -> 0, matching the SQL CASE's ELSE."""
    arr = v.to_numpy(dtype="float64", na_value=np.nan)
    bits = np.abs(np.tanh(arr / 100.0)) > 0.6
    return pd.Series(bits.astype("int32"))


@query(
    "udf_binarize_tanh",
    # tanh via the stable exp identity — DuckDB 1.0 has no TANH built-in.
    oracle=with_events_v(
        "SELECT event_id, CASE WHEN ABS(1 - 2/(EXP(2*(value/100)) + 1)) > 0.6 "
        "THEN 1 ELSE 0 END AS bit FROM events_v"
    ),
)
def udf_binarize_tanh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized) applying the tanh binarization."""
    ev = events_v(spark, sf_dir)
    binarize = pandas_udf(_binarize_tanh_fn, "int")
    return ev.select("event_id", binarize("value").alias("bit"))


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group n / mean / population std with NumPy — np.std is population
    sigma (ddof=0), the semantics the reference uses for idle-time metrics
    (metaheuristics.py:707-714, R20)."""
    v = pdf["value"].to_numpy(dtype="float64")
    finite = v[~np.isnan(v)]
    mean = float(np.mean(finite)) if finite.size else None
    sd = float(np.std(finite)) if finite.size else None
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n": [len(pdf)],
            "mean_v": [mean],
            "sd_pop": [sd],
        }
    )


def _bucket_group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized per-user stats for a whole hash bucket of users in ONE
    Python call — in ORDER-INDEPENDENT exact arithmetic.

    A plain float mean is summation-order-sensitive, and this dataset
    makes rounding boundaries COMMON (2-decimal values divided by group
    sizes like 80 land exactly on .xxxx5), so the round-6
    directory-layout sweep caught a 4-part copy flipping user 20's mean
    by one ULP across the .55575 boundary (58.5558 vs 58.5557). Fix:
    scale values to exact integers (vi = rint(value * 1e9) — identical
    to the oracle's ROUND(value*1e9) since the product sits within 1e-4
    of an integer), aggregate in exact integer arithmetic (Python ints
    for the squares; no overflow at any group size), and do the half-up
    mean rounding in integers too, so the emitted doubles are
    bit-identical for every summation order and engine. sd_pop uses the
    exact-integer population-variance numerator n*S2 - S1^2 >= 0, with
    the one sqrt in IEEE double (correctly rounded, layout-independent).
    ddof=0 matches SQL STDDEV_POP and the reference's idle-time sigma
    (metaheuristics.py:707-714, R20).
    """
    import math

    values = pdf["value"].to_numpy()
    # np.rint(NaN).astype(int64) is undefined garbage (typically
    # INT64_MIN), which would silently corrupt n/mean/sd if a NULL ever
    # reached this path; the events fixture has none, so fail loudly
    # rather than diverge quietly from the NULL-skipping oracle.
    if not np.isfinite(values).all():
        raise ValueError("udaf_group_stats: non-finite value in events.value")
    vi = np.rint(values * 1e9).astype(np.int64)
    obj = vi.astype(object)  # Python ints: exact squares at any magnitude
    tmp = pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy(),
            "s1": obj,
            "s2": obj * obj,
        }
    )
    g = tmp.groupby("user_id", sort=False)
    n = g.size()
    s1 = g["s1"].sum()
    s2 = g["s2"].sum()
    rows = []
    for uid in n.index:
        ni, a, q = int(n[uid]), int(s1[uid]), int(s2[uid])
        # round(S1 / (1e9 n), 4) half-up, exactly, in integers
        mean_v = ((2 * a * 10**4 + ni * 10**9) // (2 * ni * 10**9)) / 1e4
        sd = math.sqrt(float(ni * q - a * a)) / (1e9 * ni)
        rows.append((uid, ni, mean_v, sd))
    return pd.DataFrame(
        rows, columns=["user_id", "n", "mean_v", "sd_pop"]
    )


@query(
    "udaf_group_stats",
    # Oracle mirrors the exact-integer arithmetic of _bucket_group_stats
    # (not AVG/STDDEV_POP, which are float-summation-order-sensitive and
    # therefore layout-sensitive at this dataset's common .xxxx5 mean
    # boundaries): vi = ROUND(value*1e9) is the identical integer both
    # engines derive, sums are exact HUGEINT, the half-up mean rounding
    # happens in integer floor-division, and sd's single sqrt runs on a
    # bit-identical double.
    oracle=with_events_v(
        ", v AS (SELECT user_id, "
        "  CAST(ROUND(value * 1000000000, 0) AS HUGEINT) AS vi FROM events_v), "
        "s AS (SELECT user_id, COUNT(*) AS n, SUM(vi) AS s1, "
        "  SUM(vi * vi) AS s2 FROM v GROUP BY user_id) "
        "SELECT user_id, n, "
        "  CAST((2 * s1 * 10000 + n * 1000000000) "
        "       // (2 * n * 1000000000) AS DOUBLE) / 10000.0 AS mean_v, "
        "  ROUND(SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)) "
        "        / (1000000000.0 * n), 4) AS sd_pop "
        "FROM s"
    ),
)
def udaf_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas — the execution shape of the
    reference's per-partition fitness evaluation (metaheuristics.py:214-222
    mapPartitions, R9) on the Arrow fast path. Rounding happens JVM-side
    AFTER the UDF (SQL ROUND is half-away-from-zero; Python's round is
    banker's).

    Grouping on a HASH BUCKET of users, not the raw user_id — the same
    lesson as udf_cogroup_asof below: one Python call per user means one
    tiny Arrow batch per group, while one call per bucket lets pandas
    groupby vectorize every user in the bucket (measured 3.0s -> ~0.4s at
    sf0.1). The explicit-count repartition pins the exchange width: AQE
    otherwise coalesces the small pre-UDAF shuffle to ONE partition and
    serializes every Python call."""
    n_buckets = spark.sparkContext.defaultParallelism * 2
    ev = events_v(spark, sf_dir).select(
        "user_id", "value", F.pmod("user_id", F.lit(n_buckets)).alias("bucket")
    )
    raw = (
        ev.repartition(n_buckets, "bucket")
        .groupBy("bucket")
        .applyInPandas(
            lambda pdf: _bucket_group_stats(pdf.drop(columns=["bucket"])),
            schema="user_id bigint, n bigint, mean_v double, sd_pop double",
        )
    )
    return raw.select(
        "user_id",
        "n",
        F.round("mean_v", 4).alias("mean_v"),
        F.round("sd_pop", 4).alias("sd_pop"),
    )


def _vec_norm_fn(emb: pd.Series) -> pd.Series:
    """Vectorized L2 norm over an Arrow batch of embedding arrays: one
    NumPy matrix op per batch, not one Python call per row."""
    m = np.stack(emb.to_numpy())
    return pd.Series(np.sqrt((m * m).sum(axis=1)))


@query(
    "udf_arrow_vector_norm",
    oracle=(
        "SELECT vec_id, ROUND(SQRT(list_sum(list_transform("
        "CAST(embedding AS DOUBLE[]), x -> x * x))), 5) AS nrm "
        "FROM embeddings"
    ),
)
def udf_arrow_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF over array columns: embedding L2 norms computed
    as one NumPy matmul per Arrow batch — the vectorized-Python tier
    between pure JVM expressions and grouped-map UDFs (measured ~4x
    faster than n expression-tree dot products for wide vectors in the
    IVF path). The oracle recomputes the norm in SQL, pinning the Arrow
    float round-trip to exactness."""
    from multiomix_aws_emr_spark.sources.tables import load, scan_parallel

    e = scan_parallel(load(spark, sf_dir, "embeddings"))
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    norm_udf = pandas_udf(_vec_norm_fn, "double")
    return e.select("vec_id", F.round(norm_udf(emb_d), 5).alias("nrm"))


def _asof_merge(purchases: pd.DataFrame, signups: pd.DataFrame) -> pd.DataFrame:
    """Bucket-level pandas merge_asof: latest signup at-or-before each
    purchase (direction='backward' == inclusive <=), per user via
    ``by="user_id"`` so one vectorized call covers every user in the
    bucket."""
    empty = pd.DataFrame(
        columns=["event_id", "user_id", "signup_ts_ms"]
    ).astype({"event_id": "int64", "user_id": "int64", "signup_ts_ms": "int64"})
    if purchases.empty or signups.empty:
        return empty
    p = purchases.sort_values("ts_ms")
    s = signups.sort_values("ts_ms").rename(columns={"ts_ms": "signup_ts_ms"})
    m = pd.merge_asof(
        p,
        s[["user_id", "signup_ts_ms"]],
        left_on="ts_ms",
        right_on="signup_ts_ms",
        by="user_id",
        direction="backward",
    )
    m = m.dropna(subset=["signup_ts_ms"])
    if m.empty:
        return empty
    out = m[["event_id", "user_id"]].copy()
    out["signup_ts_ms"] = m["signup_ts_ms"].astype("int64")
    return out


@query(
    "udf_cogroup_asof",
    oracle=with_events_v(
        "SELECT p.event_id, p.user_id, MAX(s.ts_ms) AS signup_ts_ms "
        "FROM events_v p JOIN events_v s "
        "ON s.user_id = p.user_id AND s.event_type = 'signup' "
        "AND s.ts_ms <= p.ts_ms "
        "WHERE p.event_type = 'purchase' "
        "GROUP BY p.event_id, p.user_id"
    ),
)
def udf_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: purchases and signups cogroup and a pandas
    ``merge_asof`` runs inside each group — the third Arrow surface
    (beside scalar pandas UDF and grouped-map) and the escape hatch for
    per-key logic pandas already solves. Same oracle as
    `join_asof_event`, so the Python path is held to the exact contract
    of the JVM window-scan implementation (which remains the scale
    default — cogroup ships both sides through Arrow).

    Cogrouping on a HASH BUCKET of users, not the raw user_id, is the
    load-bearing choice: one Python invocation per user means millions of
    tiny Arrow batches at scale (measured 14.5 s -> 3 s at sf0.1 from
    this change alone), while ``merge_asof(by="user_id")`` gives the
    identical per-user semantics across a whole bucket in one vectorized
    call. Bucket count scales with parallelism, so batches stay large
    and every core stays busy."""
    ev = events_v(spark, sf_dir)
    n_buckets = spark.sparkContext.defaultParallelism * 2
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms",
        F.pmod("user_id", F.lit(n_buckets)).alias("bucket"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts_ms",
        F.pmod("user_id", F.lit(n_buckets)).alias("bucket"),
    )
    return (
        purchases.groupBy("bucket")
        .cogroup(signups.groupBy("bucket"))
        .applyInPandas(
            lambda p, s: _asof_merge(
                p.drop(columns=["bucket"]), s.drop(columns=["bucket"])
            ),
            "event_id bigint, user_id bigint, signup_ts_ms bigint",
        )
    )


_UDTF_TOKENIZE_ORACLE = """
SELECT doc_id, t.word, CAST(length(t.word) AS INTEGER) AS wlen
FROM documents, UNNEST(string_split(text, ' ')) AS t(word)
WHERE doc_id < 50 AND t.word <> ''
"""


@query("udtf_python_tokenize", oracle=_UDTF_TOKENIZE_ORACLE)
def udtf_python_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python user-defined table function (the Spark 4 ``@udtf``
    API): one input row yields N output rows from Python, invoked
    through SQL LATERAL — the fourth Python surface beside scalar
    pandas UDF, grouped-map, and cogroup. Held to the DuckDB UNNEST
    oracle. Python-per-row is the slow path by design (the JVM twin is
    ``udtf_expand``); the input is a pushed-down 50-doc slice, and the
    same tokenization at corpus scale runs as explode(split()) —
    this query exists to pin the API's semantics, not to race it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, wlen int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split(" "):
                if w:
                    yield (w, len(w))

    spark.udtf.register("split_words_py", SplitWords)
    from multiomix_aws_emr_spark.sources.tables import load

    load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.word, s.wlen "
        "FROM docs_udtf d, LATERAL split_words_py(d.text) s"
    )


@query(
    "ps_pandas_api_groupby",
    oracle=(
        "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(AVG(c_acctbal), 4) AS avg_bal, "
        "ROUND(MAX(c_acctbal), 2) AS max_bal "
        "FROM customer GROUP BY c_mktsegment"
    ),
)
def ps_pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark surface (``pyspark.pandas``): a
    pandas-shaped groupby/agg that compiles to the SAME Catalyst hash
    aggregate as the DataFrame API — the migration path for
    pandas-native users of the reference's driver code
    (`scripts/core.py:80-291` is pandas end to end). ``to_spark()``
    hands the lazy plan back untouched; held to the standard DuckDB
    oracle like every other query, proving API choice doesn't change
    semantics. No driver materialization."""
    import pyspark.pandas as ps

    from multiomix_aws_emr_spark.sources.tables import load

    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_ps")
    # an explicit index column on the way in and out: the default
    # sequence index and dropping the index each raise an advice warning
    pdf = ps.read_table("customer_ps", index_col="c_name")
    agg = pdf.groupby("c_mktsegment").agg(
        n=("c_custkey", "count"),
        avg_bal=("c_acctbal", "mean"),
        max_bal=("c_acctbal", "max"),
    )
    out = agg.to_spark(index_col="c_mktsegment")
    return out.select(
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n"),
        F.round("avg_bal", 4).alias("avg_bal"),
        F.round("max_bal", 2).alias("max_bal"),
    )
