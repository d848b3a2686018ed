"""Query registry: maps qid -> (spark, sf_dir) -> DataFrame plus oracle SQL.

Every declared query from SURVEY.md §2.2 registers itself here via the
:func:`query` decorator. ``ORACLES`` holds the DuckDB-runnable ANSI SQL for
the oracle-checked subset; rows-only queries register with ``oracle=None``.

Each registered callable applies the runtime conf baseline
(``session.configure``), then resolves one conf dict for the query: its
``extra_confs`` plus a ``spark.sql.shuffle.partitions`` count when its
``sizing_hint`` estimate, routed through ``session.sized_shuffle_partitions``
(BASELINE.md rule 2), sizes above the session's live count. The query
function runs inside that scope, so eager build-time jobs see it; a
non-empty scope is also re-entered by the returned frame's actions and by
its ``write``/``writeTo`` sinks (Spark reads these confs at job
submission, so queries built and run interleaved each execute at their
own). Every scope restores on exit, so the live conf is the session's
baseline. Frames derived from a declared query, its temp views and raw
``spark.sql`` run at the session's own confs: every scoped conf is
semantics-free (shuffle count, broadcast threshold, bloom gates), so
only their plans can differ. Sub-GB estimates floor to the live count,
so at fixture scale only ``join_runtime_bloom`` carries a scope and every
other query returns Spark's own DataFrame untouched.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from multiomix_aws_emr_spark.session import (
    configure,
    executor_task_share_bytes,
    scoped_confs,
    sized_shuffle_partitions,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
SIZING_HINTS: dict[str, Callable[[str], int]] = {}

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"


def _query_confs(
    spark: SparkSession,
    hint: Optional[Callable[[str], int]],
    extras: Optional[dict],
    sf_dir: str,
) -> dict:
    """The confs one declared query runs under: ``extras`` plus a
    rule-2-sized shuffle count when the hint clears the live count."""
    confs = dict(extras or {})
    if hint is None:
        return confs
    try:
        # Floor/wave on the session's configured parallelism, not the
        # machine core count, so a sub-GB estimate yields exactly the
        # live count. Per-task share comes from the executor sizing confs
        # when set (multi-JVM masters), else the env driver heap.
        live = int(spark.conf.get(_SHUFFLE_CONF))
        n = sized_shuffle_partitions(
            hint(sf_dir),
            cores=live,
            per_task_share_bytes=executor_task_share_bytes(spark),
        )
    except (OSError, ValueError):
        return confs  # unreadable path / non-numeric count: keep the live one
    if n > live:
        confs[_SHUFFLE_CONF] = str(n)
    return confs


#: DataFrame action entry points that re-enter the owning query's scope.
#: ``toLocalIterator`` runs its incremental jobs after the scope closes.
_ACTION_METHODS = (
    "collect",
    "count",
    "toPandas",
    "toLocalIterator",
    "show",
    "head",
    "first",
    "take",
    "tail",
    "foreach",
    "foreachPartition",
    "isEmpty",
)


class _BoundWriter:
    """Proxy over a DataFrameWriter/DataFrameWriterV2 from a scoped frame:
    every call runs inside the owner's scope, so the terminal call
    (``save``/``append``/``create``/…) submits at the owner's confs even
    when the writer is held across another query's build; chained
    builder calls (``mode``/``option``/``using``) re-wrap."""

    __slots__ = ("_inner", "_scope")

    def __init__(self, inner, scope):
        self._inner = inner
        self._scope = scope

    def __getattr__(self, name):
        val = getattr(self._inner, name)
        if not callable(val):
            return val

        def call(*args, **kwargs):
            with scoped_confs(*self._scope):
                out = val(*args, **kwargs)
            if type(out) is type(self._inner):
                return _BoundWriter(out, self._scope)
            return out

        return call


#: one scoped subclass per concrete DataFrame class, built lazily
_BOUND_CLASSES: dict[type, type] = {}


def _bound_class(base: type) -> type:
    """A subclass of ``base`` whose actions run inside the instance's
    ``_query_scope`` and whose ``write`` (a property) and ``writeTo`` (a
    plain method in PySpark 4.x) return :class:`_BoundWriter` proxies."""

    def action(method):
        def run(self, *args, **kwargs):
            with scoped_confs(*self._query_scope):
                return method(self, *args, **kwargs)

        run.__name__ = method.__name__
        run.__doc__ = method.__doc__
        return run

    ns: dict = {
        name: action(getattr(base, name))
        for name in _ACTION_METHODS
        if callable(getattr(base, name, None))
    }
    write = getattr(base, "write", None)
    if isinstance(write, property):
        ns["write"] = property(
            lambda self: _BoundWriter(write.fget(self), self._query_scope)
        )
    write_to = getattr(base, "writeTo", None)
    if callable(write_to):
        ns["writeTo"] = lambda self, *args, **kwargs: _BoundWriter(
            write_to(self, *args, **kwargs), self._query_scope
        )
    sub = type(base.__name__, (base,), ns)
    sub.__module__ = base.__module__
    return sub


def _bind_scope(df: DataFrame, spark: SparkSession, confs: dict) -> DataFrame:
    """Re-class ``df`` so its actions and sinks re-enter ``confs``."""
    sub = _BOUND_CLASSES.get(type(df))
    if sub is None:
        sub = _BOUND_CLASSES[type(df)] = _bound_class(type(df))
    df._query_scope = (spark, confs)
    df.__class__ = sub
    return df


def fact_bytes(table: str, fanout: float = 1.0) -> Callable[[str], int]:
    """Sizing-hint factory: on-disk bytes of ``{sf_dir}/{table}.parquet``
    times ``fanout`` (the row-expansion multiplier for exploding plans —
    shingles, array explode — per the rule-2 contract that
    ``shuffle_bytes`` estimates the bytes ENTERING the widest exchange)."""
    from multiomix_aws_emr_spark.session import parquet_bytes

    def hint(sf_dir: str) -> int:
        return int(parquet_bytes(os.path.join(sf_dir, f"{table}.parquet")) * fanout)

    return hint


def query(
    name: str,
    oracle: Optional[str] = None,
    sizing_hint: Optional[Callable[[str], int]] = None,
    extra_confs: Optional[dict] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query (and its DuckDB oracle, if hash-checkable).

    ``sizing_hint``: optional ``(sf_dir) -> bytes`` estimate of the widest
    exchange for wide-state shapes; ``extra_confs``: optional conf key ->
    value dict for optimizer behaviour read at job submission (e.g.
    runtime bloom-filter gates). Both are scoped to the query's own build,
    actions and sinks — see the module docstring."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            confs = _query_confs(spark, sizing_hint, extra_confs, sf_dir)
            with scoped_confs(spark, confs):
                df = fn(spark, sf_dir)
            return _bind_scope(df, spark, confs) if confs else df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        if sizing_hint is not None:
            SIZING_HINTS[name] = sizing_hint
        return wrapped

    return deco
