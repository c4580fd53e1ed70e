"""Parquet table catalog (S1 scan; SURVEY.md §2.1).

The reference's paginated REST scan (bsale_client.py:35-65) becomes, in the
engine, a plain columnar scan: Catalyst pushes filters and prunes columns
down to the parquet reader, so callers should express predicates on the
returned DataFrame rather than pre-collecting. At 100 TB the tables are
expected to be directory-partitioned (e.g. facts by date); a path-level
partition column is pruned automatically by the same mechanism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

def ensure_nanos_conf(spark: SparkSession) -> None:
    """Set ``spark.sql.legacy.parquet.nanosAsLong`` on the session.

    ``get_spark`` already sets it at build time; this runtime set exists
    ONLY for externally-built sessions (the driver harness) that scan the
    TIMESTAMP(NANOS) events table — without it the scan fails outright.
    Centralized here so the batch and streaming readers share one
    documented mutation point instead of each reader touching session
    state."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


#: Footer-peeked events schemas by path — the streaming reader needs a
#: declared schema, and re-peeking per call is hidden I/O.
_EVENTS_SCHEMA_CACHE: dict = {}


def events_schema(spark: SparkSession, sf_dir: str):
    """Schema of the events parquet (footer metadata read, cached)."""
    path = os.path.join(sf_dir, "events.parquet")
    if path not in _EVENTS_SCHEMA_CACHE:
        ensure_nanos_conf(spark)
        _EVENTS_SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    return _EVENTS_SCHEMA_CACHE[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table from a scale-factor directory.

    TIMESTAMP(NANOS) parquet columns (the ``events.ts`` column in the
    testdata) are unreadable by Spark natively; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as long
    nanoseconds and are converted to microsecond timestamps here, so every
    downstream operator sees a plain TimestampType.
    """
    if name == "events":
        ensure_nanos_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # build TIMESTAMP_NTZ directly from the integer micros (NTZ origin
        # + exact micro offset) — timezone-INDEPENDENT, unlike
        # timestamp_micros (LTZ), whose downstream NTZ casts would shift
        # by the session offset in a non-UTC driver session. This matches
        # the type the current testdata vintage (plain timestamp[us])
        # reads as natively, so both vintages feed identical plans.
        df = df.withColumn(
            "ts",
            F.timestamp_add(
                "MICROSECOND",
                F.expr("ts div 1000"),
                F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            ),
        )
    return df
