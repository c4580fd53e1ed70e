"""Dedup / top-1-per-group operators (A5/A6) + window helpers.

Reference semantics: a ``processed_variants`` set gives first-wins dedup
across products (etl_service.py:568-582); "first valid active variant per
product" is a break-on-success loop (:578-633). Both are window functions
in Spark — a single shuffle by key, deterministic via an explicit ordering
column (SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_first_wins(df: DataFrame, key: str | list[str], order_by: list[Column]) -> DataFrame:
    """A5: keep the first row per key under an explicit ordering.

    ``dropDuplicates`` would be cheaper (map-side partial agg) but keeps an
    *arbitrary* row; the reference keeps the first-seen, so ordering is part
    of the semantics.
    """
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def top_k_per_group(
    df: DataFrame, key: str | list[str], order_by: list[Column], k: int = 1
) -> DataFrame:
    """A6 generalized: top-k rows per group by explicit order (k=1 is the
    reference's first-valid-variant-wins, etl_service.py:624)."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
