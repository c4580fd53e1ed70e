"""Keyed upsert operators (J6/K3, SURVEY.md §2.2/2.4).

The reference upserts into BigQuery with generated MERGE statements in
50-row batches (etl_service.py:252-293, builders :328-503) and falls back
to DELETE+INSERT (:296-325). In Spark the same semantics are set
operations over DataFrames — one shuffle by key, no batching, idempotent:

- ``upsert_latest_wins``    — the MERGE equivalent; the warehouse sink
                              (sinks/warehouse.py) commits its result. One
                              ranked window over target ∪ source keeps one
                              row per key, whether every column updates or
                              only a subset does.
- ``delete_insert``         — the fallback, as anti-join + union.

Scale note: both shuffle once on the merge key. For repeated upserts
into the same table, bucketing the stored table by the key makes the target
side shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def upsert_latest_wins(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: list[str] | None = None,
) -> DataFrame:
    """J6: MERGE ON key — matched → UPDATE, not matched → INSERT.

    One window over target ∪ source, partitioned by ``key``: source rows
    outrank target rows, and rows of equal rank (a key repeated within one
    side) are ordered by their own values, descending, so every run keeps
    the same row. The first row of each key is kept — one row per key, even
    when the source repeats a key. ``update_cols`` restricts which columns
    the source overwrites on a match (the documento MERGE updates only
    id_cliente/monto_* — etl_service.py:452-457): when the kept row comes
    from the source and the key has a target row, every other column takes
    the target's value (the last row of the window). An inserted row keeps
    all of its source values. Both sides carry full rows: ``source`` must
    hold every column of ``target``.
    """
    cols = target.columns
    ranked = target.withColumn("_rank", F.lit(0)).unionByName(
        source.select(cols).withColumn("_rank", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(
        F.col("_rank").desc(), *[F.col(c).desc() for c in cols if c != key]
    )
    kept = set() if update_cols is None else set(cols) - set(update_cols) - {key}
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    matched = F.last("_rank").over(whole) < F.col("_rank")
    out = [
        F.when(matched, F.last(c).over(whole)).otherwise(F.col(c)).alias(c)
        if c in kept
        else F.col(c)
        for c in cols
    ]
    return (
        ranked.select(*out, F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delete_insert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """K3: DELETE rows whose key ∈ source keys, then INSERT source
    (etl_service.py:296-325) — anti-join + unionByName. Same end state as
    ``upsert_latest_wins`` when each key appears at most once in the source
    and in the target; a repeated source key is inserted once per row."""
    survivors = target.join(source.select(key).distinct(), on=key, how="left_anti")
    return survivors.unionByName(source.select(target.columns))
