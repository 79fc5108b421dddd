"""Query + oracle registry.

Every engine operator registers here as a named query (SURVEY.md §2B key),
a callable ``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible) an
equivalent ANSI-SQL oracle string DuckDB runs on the same parquet tables.
``__spark_entry__.py`` exposes this registry to the driver.

Determinism contract (what makes the driver's order-insensitive value-hash
stable across two engines):
  * every computed column is explicitly aliased, identically on both sides;
  * floating-point AGGREGATES go through exact decimal arithmetic
    (``functions/exact.py``: ``dsum``/``davg`` in Spark, the ``sql_*``
    helpers in SQL) so the result is independent of partial-aggregation
    order — double summation order differs between Spark's partial/final
    aggs and DuckDB;
  * window / top-k orderings always carry a unique tie-break key;
  * set-valued results are order-normalized (array_sort / list_sort) or
    serialized to strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it rows-only (non-SQL ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registrations run."""
    from kinesis_test_spark import flagship  # noqa: F401
    from kinesis_test_spark.operators import (  # noqa: F401
        relational,
        windows,
        setops,
        asof,
        dedup,
        similarity,
        text,
        multimodal,
        sessionize,
        twophase,
        udx,
        nested,
        subqueries,
        tpch,
        scale,
        features,
    )
    from kinesis_test_spark.functions import scalar  # noqa: F401
    from kinesis_test_spark.sources import formats  # noqa: F401
    from kinesis_test_spark.streaming import queries as streaming_queries  # noqa: F401
