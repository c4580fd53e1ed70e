"""Structured Streaming ingest + windowed operators (SURVEY.md §7 phase 3)."""

from imperio_patitas_etl_spark.streaming.events import (  # noqa: F401
    clicks_after_errors,
    read_events_batch,
    read_events_stream,
    run_stream_to_memory,
    session_counts,
    sliding_value_sum,
    tumbling_counts,
)
