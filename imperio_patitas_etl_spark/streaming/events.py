"""Structured Streaming ingest over the ``events`` table (SURVEY.md §7
phase 3).

The reference has no streams — its "incremental sync" is a cron that
re-pulls a trailing window and re-upserts (scheduler_endpoints.py:71-125).
The streaming operators generalize that trailing-window policy:

- ``read_events_stream``      — file-source ``readStream`` with declared schema;
- ``tumbling_counts`` / ``sliding_value_sum`` — watermarked windowed aggs
  (the watermark is the explicit form of the reference's implicit
  late-data policy: its trailing-window re-pull bounds how late an update
  can arrive, SURVEY.md §2.7);
- ``session_counts``          — built-in ``session_window`` (gap-based).

Scale notes: windowed aggs shuffle once on (key, window); the watermark
bounds state size — without it, 100 TB of events means unbounded state.
File-source streams at scale read from a date-partitioned landing zone, so
each micro-batch lists only new partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.sources.parquet import events_schema

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with a plain timestamp
    column. ``maxFilesPerTrigger`` keeps micro-batches bounded.

    File streams require a declared schema; it comes from the CACHED
    footer peek in ``sources.parquet.events_schema`` (one metadata read
    per path per process, not per call), so the stream tracks
    however the testdata encodes ``ts`` — TIMESTAMP(NANOS) (arrives as
    long under ``nanosAsLong``, converted here) or plain micros (arrives
    as a timestamp type, passed through) — instead of hardcoding one
    vintage. The nanos conf itself is set in ``get_spark`` /
    ``ensure_nanos_conf``, not here.

    Type note: watermarks require TimestampType (Spark raises
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so this reader casts
    ``ts`` to LTZ at the source. ``read_events_batch`` below applies the
    SAME cast to the batch scan, so every streaming operator sees one
    event-time type in both modes and the stream/batch equality tests
    compare plans with identical schemas — no boundary casts.
    """
    schema = events_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        # the file source requires a directory or glob, not a bare file
        # path; the single-character glob class streams the one-file
        # testdata table (production would point at a landing directory)
        .parquet(f"{sf_dir}/events.parque[t]")
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
    # NTZ); session tz is pinned UTC, so the cast is wall-clock exact
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``read_events_stream``: the same events table through
    the batch scan, with ``ts`` cast to the SAME event-time type (LTZ)
    the streaming reader emits. Under the pinned-UTC session the cast is
    wall-clock exact, so a streaming operator applied to this frame is
    the streaming plan's schema-identical batch twin — equality tests
    compare the two directly, with no cast at the comparison boundary.
    The oracle-checked registry twins
    (queries/streaming_ops.py) keep reading through ``load_table``; the
    checker canonicalizes LTZ and NTZ to one timestamp label, so both
    spellings certify the same values."""
    from imperio_patitas_etl_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-type tumbling-window counts with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_value_sum(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window value sums — each event lands in window/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user (built-in ``session_window`` —
    state merges adjacent events closer than ``gap``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n_events", "first_ts", "last_ts")
    )


def dedup_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream dedup: at-least-once sources replay rows, so
    near-line pipelines dedup on a business key before aggregating. Key =
    (user_id, event_type, minute bucket); output = distinct-key counts per
    event_type, which makes the result independent of WHICH duplicate
    survives — the property that lets stream (first-arrival wins) and
    batch (arbitrary-survivor dropDuplicates) agree exactly.

    On a streaming ``events`` frame it chains two stateful operators
    (dropDuplicatesWithinWatermark → aggregation), supported since Spark
    3.5 with a shared watermark; the watermark bounds dedup state,
    without which 100 TB of replayed events means unbounded state."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minute"),
        "ts",
    )
    if events.isStreaming:
        deduped = keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "minute"]
        )
    else:
        deduped = keyed.dropDuplicates(["user_id", "event_type", "minute"])
    return deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))


def rolling_distinct_daily(
    events: DataFrame,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "14 days",
) -> DataFrame:
    """Exact trailing-window distinct active users (the WAU curve) as a
    streaming plan: COUNT(DISTINCT) per sliding window is rewritten as
    the two-level stateful pipeline streaming can actually run —
    dedup on (user, window) then a plain count per window. Each event
    lands in window/slide windows; dedup state is bounded by ACTIVE
    (user, window) pairs inside the watermark horizon, which is the
    same collapse the batch twin (``rolling_distinct_users``) relies
    on. Output labels the window by its exclusive-end day cast to DATE.

    On a batch ``events`` frame ``dropDuplicatesWithinWatermark`` becomes
    plain ``dropDuplicates`` — the count is survivor-independent, so stream
    (first-arrival wins) and batch (arbitrary survivor) agree exactly,
    the same argument as ``dedup_counts``."""
    keyed = events.select(
        "user_id", F.window("ts", window, slide).alias("w"), "ts"
    )
    if events.isStreaming:
        deduped = keyed.withWatermark(
            "ts", watermark
        ).dropDuplicatesWithinWatermark(["user_id", "w"])
    else:
        deduped = keyed.dropDuplicates(["user_id", "w"])
    return (
        deduped.groupBy("w")
        .agg(F.count("*").alias("n_users_7d"))
        .select(
            F.col("w.end").cast("date").alias("window_end"), "n_users_7d"
        )
    )


def clicks_after_errors(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream INTERVAL self-join: every click landing inside the
    ``window`` after an error event of the same user — the event-time
    join family (alerts correlation, attribution) Structured Streaming
    serves with bounded state.

    On a streaming ``events`` frame it watermarks BOTH sides and bounds
    the join condition with an event-time range, which is exactly what
    lets Spark expire state: an error row can only ever match clicks within
    [err_ts, err_ts + window), so once the click watermark passes that
    bound the buffered error is dropped (state ∝ watermark × rate, not
    the stream's history). On a batch frame it is the same join without
    watermarks — the twin the test compares against; the registry's
    ``range_join`` covers the same semantics through the bin-equi-join
    plan for the batch/backfill path at scale."""
    e = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    if events.isStreaming:
        e = e.withWatermark("err_ts", watermark)
        c = c.withWatermark("click_ts", watermark)
    return e.join(
        c,
        F.expr(
            f"err_user = click_user AND click_ts >= err_ts "
            f"AND click_ts < err_ts + INTERVAL {window}"
        ),
    ).select("err_id", "click_ts", "click_value")


def run_stream_to_memory(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) into an
    in-memory table and return the final result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)
