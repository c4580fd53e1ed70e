"""Streaming SCD2 maintenance: a ``foreachBatch`` sink that applies each
micro-batch of order changes to a parquet-backed Type-2 history with the
SAME ``scd2_apply`` the oracle-certified ``scd2_incremental`` query uses,
committed through the warehouse's write-temp + atomic-rename swap
(``sinks.warehouse.swap_dir``).

End-to-end contract (pinned in tests/test_streaming_scd2.py): streaming
the change feed in file order produces a history byte-identical to the
batch rebuild — versions, intervals, open rows, everything. Micro-batch
arrival order IS the version-ordering precondition ``scd2_apply``
documents, because the file stream delivers files oldest-first and the
feed is date-partitioned by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from imperio_patitas_etl_spark.operators.scd2 import SCD2_COLS, scd2_apply
from imperio_patitas_etl_spark.sinks.warehouse import swap_dir


def _read_history(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def _commit(history: DataFrame, path: str) -> None:
    tmp = path.rstrip("/") + "__scd2_tmp"
    history.write.mode("overwrite").parquet(tmp)
    swap_dir(tmp, path.rstrip("/"))


def foreach_batch_scd2(
    orders_stream: DataFrame, history_path: str, checkpoint: str
) -> StreamingQuery:
    """Attach the SCD2 maintenance sink to a streaming orders feed.

    Each micro-batch either bootstraps the history (first batch against
    an absent table — scd2_apply over an empty history degenerates to
    the plain window build) or delta-applies, then commits atomically.
    The per-batch work is delta-sized: one window over the batch, one
    skinny max per touched key, one co-partitioned close join."""
    spark = orders_stream.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        existing = _read_history(spark, history_path)
        if existing is None:
            from imperio_patitas_etl_spark.operators.scd2 import scd2_from_orders

            merged = scd2_from_orders(batch_df)
        else:
            merged = scd2_apply(existing, batch_df)
        _commit(merged.select(*SCD2_COLS), history_path)

    return (
        orders_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
