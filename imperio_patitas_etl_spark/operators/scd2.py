"""Type-2 SCD maintenance as a reusable operator.

``scd2_apply`` is the implementation behind the registry's
``scd2_incremental`` query (oracle-certified equal to the batch rebuild):
given the existing history and a batch of changes, number the batch's
versions from each key's existing max, close the previously-open interval
at the batch's first change, and pass every untouched row through.

Correctness precondition (asserted by the caller's split): within each
key, every batch change must postdate the key's existing history — true
whenever batches arrive in order of the version-ordering column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: history schema: key, version, valid_from, valid_to, payload...
SCD2_COLS = ("custkey", "version", "valid_from", "valid_to", "priority", "price_cents")


def scd2_from_orders(orders: DataFrame) -> DataFrame:
    """Batch-build the full history from an orders change feed (the
    rebuild; queries/analytics.py:q_scd2_history adds is_current)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).cast("long").alias("version"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )


def scd2_apply(history: DataFrame, batch_orders: DataFrame) -> DataFrame:
    """Apply one batch of order changes to an existing SCD2 history.

    One custkey window over the BATCH (delta-sized), one skinny per-key
    max over the history, one co-partitioned join to close open
    intervals — the history is never window-sorted again. At warehouse
    scale the closed/union step is the keyed MERGE of
    operators/upsert.py over only the touched keys."""
    state = history.groupBy("custkey").agg(F.max("version").alias("base_v"))

    bw = Window.partitionBy("custkey").orderBy("valid_from", "o_orderkey")
    new_rows = (
        batch_orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("valid_from"),
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
        .join(state, "custkey", "left")
        .select(
            "custkey",
            (F.coalesce(F.col("base_v"), F.lit(0)) + F.row_number().over(bw))
            .cast("long")
            .alias("version"),
            "valid_from",
            F.lead("valid_from").over(bw).alias("valid_to"),
            "priority",
            "price_cents",
        )
    )

    first_change = new_rows.groupBy("custkey").agg(
        F.min("valid_from").alias("next_from")
    )
    closed = (
        history.join(first_change, "custkey", "left")
        .select(
            "custkey",
            "version",
            "valid_from",
            F.when(
                F.col("valid_to").isNull() & F.col("next_from").isNotNull(),
                F.col("next_from"),
            )
            .otherwise(F.col("valid_to"))
            .alias("valid_to"),
            "priority",
            "price_cents",
        )
    )
    return closed.unionByName(new_rows.select(*SCD2_COLS))
