"""Driver-facing query registry.

Each query key from SURVEY.md §2 maps to a PySpark callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an ANSI-SQL
oracle string DuckDB runs on the same parquet tables. Column names are
aliased identically on both sides — the driver sorts columns by name and
hash-compares values.

Keys are listed in module order, then in each module's own order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from imperio_patitas_etl_spark.queries import (
    affinity,
    analytics,
    core,
    corpus,
    entity,
    multimodal_ops,
    streaming_ops,
    text,
    tpch,
    vector,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


_MODULES = (
    affinity,
    streaming_ops,
    text,
    corpus,
    analytics,
    vector,
    tpch,
    entity,
    multimodal_ops,
    core,
)


def all_queries() -> dict[str, QueryFn]:
    return {k: f for mod in _MODULES for k, f in mod.QUERIES.items()}


def all_oracles() -> dict[str, str]:
    merged = {k: sql for mod in _MODULES for k, sql in mod.ORACLE.items()}
    return {k: merged[k] for k in all_queries() if k in merged}
