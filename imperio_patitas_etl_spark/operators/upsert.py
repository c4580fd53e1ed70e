"""Keyed upsert operators (J6/K3, SURVEY.md §2.2/2.4).

The reference upserts into BigQuery with generated MERGE statements in
50-row batches (etl_service.py:252-293, builders :328-503) and falls back
to DELETE+INSERT (:296-325). In Spark the same semantics are set
operations over DataFrames — one shuffle by key, no batching, idempotent:

- ``upsert_latest_wins``    — the MERGE equivalent; the warehouse sink
                              (sinks/warehouse.py) commits its result.
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

    Implemented as "latest version wins" dedup over the union: source rows
    outrank target rows with the same key. ``update_cols`` restricts which
    columns the source overwrites on match (the documento MERGE updates only
    id_cliente/monto_* — etl_service.py:452-457); unlisted columns keep the
    target's value.
    """
    if update_cols is None:
        src = source.select(target.columns)
        ranked = target.withColumn("_rank", F.lit(0)).unionByName(
            src.withColumn("_rank", F.lit(1))
        )
        w = Window.partitionBy(key).orderBy(F.col("_rank").desc())
        return (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rank", "_rn")
        )
    # Column-subset update: full-outer join old+new, pick per column.
    value_cols = [c for c in target.columns if c != key]
    src_cols = [c for c in value_cols if c in set(source.columns)]
    t = target.withColumn("_t_exists", F.lit(True)).alias("t")
    s = (
        source.select(key, *src_cols)
        .withColumn("_s_exists", F.lit(True))
        .alias("s")
    )
    joined = t.join(s, on=F.col(f"t.{key}") == F.col(f"s.{key}"), how="full_outer")
    s_exists = F.coalesce(F.col("s._s_exists"), F.lit(False))
    t_exists = F.coalesce(F.col("t._t_exists"), F.lit(False))
    out = [F.coalesce(F.col(f"t.{key}"), F.col(f"s.{key}")).alias(key)]
    for c in value_cols:
        s_val = F.col(f"s.{c}") if c in src_cols else F.lit(None)
        if c in update_cols:
            # matched or inserted → source value (MERGE SET assigns even NULL);
            # target-only rows keep their value.
            out.append(F.when(s_exists, s_val).otherwise(F.col(f"t.{c}")).alias(c))
        else:
            # non-updated column: target value survives a match; new rows get
            # the source value (INSERT lists all columns, etl_service.py:458-467).
            out.append(F.when(t_exists, F.col(f"t.{c}")).otherwise(s_val).alias(c))
    return joined.select(*out)


def delete_insert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """K3: DELETE rows whose key ∈ source keys, then INSERT source
    (etl_service.py:296-325) — anti-join + unionByName. Same end state as
    ``upsert_latest_wins`` when source has full rows."""
    survivors = target.join(source.select(key).distinct(), on=key, how="left_anti")
    return survivors.unionByName(source.select(target.columns))
