"""Differential test: every oracle-checked declared query, Spark vs DuckDB.

This is a local mirror of the driver's correctness gate
(CORRECTNESS_r{N}.json). Runs at sf0.001 by default for speed; set
SPARK_GRAFT_PARITY_SF=sf0.01 to match the driver exactly.

Piggybacked on the same pass (zero extra execution): a repo-wide
anti-pattern guard asserting NO declared query's physical plan contains a
row-at-a-time scalar Python UDF (``BatchEvalPython``). Every Python
surface in the engine is Arrow-vectorized (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas / FlatMapGroupsInPandasWithState), which this guard
permits, as is the one declared ``BatchEvalPythonUDTF`` surface
(udtf_python_tokenize, which exists to pin the @udtf API); a future edit
that slips a plain ``F.udf`` into any hot path fails here by name.
"""

import re
import warnings

import pytest

from multiomix_aws_emr_spark.queries import ORACLES, QUERIES

from tests.compare import compare_results


def _assert_no_row_python_udf(qid: str, df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # BatchEvalPythonUDTF is the Spark 4 @udtf table-function node —
    # a deliberate declared surface (udtf_python_tokenize pins that API,
    # with the JVM twin udtf_expand as the scale path). Only the scalar
    # row-at-a-time node is the anti-pattern.
    scalar_row_udf = re.search(r"BatchEvalPython(?!UDTF)", plan)
    assert scalar_row_udf is None, (
        f"{qid}: row-at-a-time Python UDF in the physical plan — "
        "use a pandas_udf / mapInPandas surface instead"
    )


@pytest.mark.parametrize("qid", sorted(ORACLES))
def test_oracle_parity(qid, spark, duck, sf_dir):
    sdf = QUERIES[qid](spark, sf_dir)
    _assert_no_row_python_udf(qid, sdf)
    rel = duck.sql(ORACLES[qid])
    problems = compare_results(sdf, rel)
    assert not problems, f"{qid}: " + "; ".join(problems)


def test_pandas_api_query_raises_no_advice_warning(spark, sf_dir):
    """ps_pandas_api_groupby names its index columns, so neither the
    default-index nor the dropped-index advice fires."""
    from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        QUERIES["ps_pandas_api_groupby"](spark, sf_dir).collect()
    advice = [w for w in caught if w.category is PandasAPIOnSparkAdviceWarning]
    assert not advice, [str(w.message) for w in advice]


@pytest.mark.parametrize("qid", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(qid, spark, sf_dir):
    df = QUERIES[qid](spark, sf_dir)
    _assert_no_row_python_udf(qid, df)
    assert df.count() > 0, f"{qid} produced no rows"
