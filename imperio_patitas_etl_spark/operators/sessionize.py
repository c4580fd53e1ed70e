"""Sessionization operators: plain and skew-sharded, on one gap rule.

``session_no`` is the one gaps-and-islands ordinal every session build
uses: lag detects gap starts (gap ≥ threshold ⇒ new session, the
``session_window`` convention) and a running sum numbers each partition's
sessions 1..k in window order. ``sessionize`` (the ``sessionize_events``
key) applies it per user and re-aggregates one row per session;
``q_session_path_trigrams`` applies it inside its own look-ahead window.

``sessionize_sharded`` is the scale fix documented in SCALE.md for the
pathological key: a single user with an event stream too large to sort in
one task. Events are bucketed into fixed time shards AT LEAST as wide as
the gap, sessions are computed per (user, shard) — so the heavy
event-level sort runs shard-parallel — and then sessions that straddle a
shard boundary are stitched by running the SAME gaps-and-islands merge
over the per-shard session SUMMARIES (orders of magnitude fewer rows than
events, so the per-user partition is no longer hot). The shard width
bound matters: with shard ≥ gap, two events within one gap of each other
are always in the same or adjacent shards, so the summary-level merge
sees every joinable boundary.

Both return identical results (property-tested against a pure-Python
oracle in tests/test_sessionize_sharded.py); the plain form is one
shuffle, the sharded form trades two more skinny shuffles for skew
immunity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from imperio_patitas_etl_spark.functions.cleaning import epoch_us

#: session gap in exact integer microseconds; the oracles interpolate it
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_no(
    w: WindowSpec, start_us: Column, end_us: Column, gap_us: int = SESSION_GAP_US
) -> Column:
    """Session ordinal of each row over ``w``: a row opens a session when
    it is its partition's first or starts ≥ ``gap_us`` after the previous
    row's end; the running sum of those openings numbers the sessions."""
    prev_end = F.lag(end_us).over(w)
    new_sess = F.when(
        prev_end.isNull() | (start_us - prev_end >= gap_us), 1
    ).otherwise(0)
    return F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))


def _merge_spans(
    spans: DataFrame, gap_us: int, keys: tuple[str, ...] = ("user_id",)
) -> DataFrame:
    """Gaps-and-islands over (``keys``, start_us, end_us, n_events,
    first_ts, last_ts, tie) span rows: merge consecutive spans whose gap
    is under the threshold; number the merged spans per ``keys`` in time
    order."""
    w = Window.partitionBy(*keys).orderBy("start_us", "tie")
    numbered = spans.select(
        "*",
        session_no(w, F.col("start_us"), F.col("end_us"), gap_us).alias("session_no"),
    )
    return numbered.groupBy(*keys, "session_no").agg(
        F.sum("n_events").alias("n_events"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
    )


def _event_spans(events: DataFrame) -> DataFrame:
    us = epoch_us("ts")
    return events.select(
        "user_id",
        us.alias("start_us"),
        us.alias("end_us"),
        F.lit(1).cast("long").alias("n_events"),
        F.col("ts").alias("first_ts"),
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("tie"),
    )


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """One-shuffle sessionization; output one row per (user_id,
    session_no) with n_events / first_ts / last_ts."""
    return _merge_spans(_event_spans(events), gap_us).select(
        "user_id", "session_no", "n_events", "first_ts", "last_ts"
    )


def sessionize_sharded(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    shard_us: int = 24 * 3600 * 1_000_000,
) -> DataFrame:
    """Skew-immune sessionization: per-(user, shard) local sessions, then
    the same merge over session summaries. ``shard_us`` must be ≥
    ``gap_us`` (asserted) so only adjacent-shard sessions can stitch."""
    if shard_us < gap_us:
        raise ValueError(f"shard_us ({shard_us}) must be >= gap_us ({gap_us})")
    spans = _event_spans(events).withColumn(
        "shard", (F.col("start_us") - F.col("start_us") % shard_us)
    )
    # level 1: event-level islands within each (user, shard) — the hot
    # user's events split across shards, so no single task sorts them all
    local = _merge_spans(spans, gap_us, ("user_id", "shard")).select(
        "user_id",
        "n_events",
        "first_ts",
        "last_ts",
        "start_us",
        "end_us",
        F.col("shard").alias("tie"),
    )
    # level 2: the same islands merge over per-shard session summaries
    return _merge_spans(local, gap_us).select(
        "user_id", "session_no", "n_events", "first_ts", "last_ts"
    )
