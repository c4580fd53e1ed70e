"""Oracle-checked batch twins of the streaming operators.

``F.window`` / ``F.session_window`` produce identical results in batch and
streaming mode (watermarks are a no-op on batch inputs), so each streaming
operator in ``streaming/events.py`` is exercised here on the ``events``
table as a batch plan with an exact DuckDB oracle:

- sliding window → per-offset integer floor arithmetic in SQL;
- session window → gaps-and-islands (lag + cumulative session starts);
- props JSON access → ``get_json_object`` ↔ ``json_extract_string``.

The true ``readStream`` paths (file source, availableNow) are covered
by tests/test_streaming.py, which asserts stream ≡ batch
on the same input — the correctness argument is transitivity: stream ≡
batch (test) and batch ≡ oracle (driver t2 gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.functions.cleaning import epoch_us
from imperio_patitas_etl_spark.sources.parquet import load_table
from imperio_patitas_etl_spark.streaming.events import (
    dedup_counts,
    session_counts,
    sliding_value_sum,
)

WINDOW_S = 3600
SLIDE_S = 1800


def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min window over events — same plan the streaming path
    runs (streaming/events.py:sliding_value_sum)."""
    return sliding_value_sum(load_table(spark, sf_dir, "events"))


ORACLE_SLIDING = f"""
    WITH offsets AS (SELECT unnest(range(0, {WINDOW_S // SLIDE_S})) AS i),
    assigned AS (
        SELECT CAST(to_timestamp(
                   ((epoch_us(ts) // 1000000 - i * {SLIDE_S}) // {WINDOW_S})
                   * {WINDOW_S} + i * {SLIDE_S}
               ) AS TIMESTAMP) AS win_start,
               value
        FROM events CROSS JOIN offsets
    )
    SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM assigned GROUP BY win_start
"""


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) session windows per user — the custom-stateful
    streaming operator surface, batch twin (streaming/events.py:session_counts)."""
    return session_counts(load_table(spark, sf_dir, "events"))


ORACLE_SESSION = """
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM ordered
    )
    SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM sessions GROUP BY user_id, sid
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream dedup, batch twin: distinct (user, type, minute)
    keys counted per event type (streaming/events.py:dedup_counts; the
    streaming path uses dropDuplicatesWithinWatermark and is asserted
    stream ≡ batch in tests/test_streaming.py)."""
    return dedup_counts(load_table(spark, sf_dir, "events"))


ORACLE_STREAM_DEDUP = """
    SELECT event_type, COUNT(*) AS n_unique
    FROM (
        SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
        FROM events
    ) GROUP BY event_type
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON access (SURVEY.md §2.6 tail): the reference reads nested
    dict fields everywhere (etl_service.py:571,601-602,687); for raw JSON
    strings the Spark form is ``get_json_object`` — aggregated here so the
    oracle check is compact."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON_EXTRACT = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native ASOF): each
    purchase event gets the most recent prior-or-simultaneous click value
    for the same user. One shuffle via union+window
    (operators/joins.py:asof_join); DuckDB's native ASOF JOIN is the
    oracle."""
    from imperio_patitas_etl_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    # every 7th click carries a NULL value: the fixture data has no NULLs,
    # so inject some deterministically (mirrored in the oracle) to keep the
    # check sensitive to as-of NULL semantics — the most recent match must
    # win WITH its NULL, not leak an older row's value through it
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.round("value", 2))
        .alias("click_value"),
    )
    # one right row per (user_id, ts), keeping the greatest value: our
    # asof_join breaks equal-timestamp ties deterministically (greatest
    # payload struct), but DuckDB's ASOF JOIN — the oracle — picks an
    # ARBITRARY duplicate-timestamp row, so the comparison is only sound on
    # a tie-free right side. MAX matches the operator's greatest-struct
    # order: NULL structs sort first, so any non-null value beats NULL, and
    # an all-NULL group stays NULL.
    clicks = clicks.groupBy("user_id", "ts").agg(F.max("click_value").alias("click_value"))
    out = asof_join(purchases, clicks, key="user_id", ts="ts", value_cols=["click_value"])
    return out.select("event_id", "user_id", "purchase_value", "asof_click_value")


ORACLE_ASOF = """
    SELECT p.event_id, p.user_id,
           ROUND(p.value, 2) AS purchase_value,
           c.click_value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               MAX(CASE WHEN event_id % 7 = 0 THEN NULL
                        ELSE ROUND(value, 2) END) AS click_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (custom operator): clicks landing inside the
    10-minute window after each error event of the same user. Equi-join on
    (user, bin) + exact range filter — no nested-loop inequality join
    (operators/joins.py:range_join_binned). The oracle runs the plain
    inequality join, which DuckDB executes as a range join."""
    from imperio_patitas_etl_spark.operators.joins import range_join_binned

    e = load_table(spark, sf_dir, "events")
    intervals = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("win_end"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    pairs = range_join_binned(
        clicks, intervals, key="user_id", point_ts="ts",
        start_ts="win_start", end_ts="win_end",
    )
    return pairs.groupBy("err_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("click_value"), 2).alias("sum_click_value"),
    )


ORACLE_RANGE_JOIN = """
    SELECT i.event_id AS err_id,
           COUNT(*) AS n_clicks,
           ROUND(SUM(c.value), 2) AS sum_click_value
    FROM (SELECT event_id, user_id, ts AS win_start,
                 ts + INTERVAL 10 MINUTE AS win_end
          FROM events WHERE event_type = 'error') i
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON c.user_id = i.user_id AND c.ts >= i.win_start AND c.ts < i.win_end
    GROUP BY i.event_id
"""


SESSION_GAP_US = 30 * 60 * 1_000_000


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with explicit session ORDINALS — the
    gaps-and-islands idiom ``session_window`` doesn't give you: lag
    detects gap starts, a running sum numbers each user's sessions
    1..k in time order, and a re-aggregation emits one row per numbered
    session. Downstream training pipelines key on (user, session_no), so
    the ordinal matters, not just the window bounds.

    Scale shape: both window functions and the final groupBy partition by
    user_id — ONE shuffle total, then all three steps run within the same
    partition (Spark plans consecutive same-key windows + partial agg
    without re-exchanging). Gap comparison is exact integer microseconds
    (unix_micros ↔ epoch_us), immune to double-seconds precision drift.
    The ≥-gap convention matches ``session_counts``/``session_window``."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(epoch_us("ts")).over(w)
    new_sess = (
        F.when(
            prev_us.isNull()
            | (epoch_us("ts") - prev_us >= SESSION_GAP_US),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    numbered = e.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_no"
        ),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


ORACLE_SESSIONIZE = f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_no
        FROM ordered
    )
    SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM numbered GROUP BY user_id, session_no
"""


def q_sessionize_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune sessionization (``operators/sessionize.py:
    sessionize_sharded``): events bucket into fixed time shards ≥ the gap,
    sessions compute per (user, shard) — so one hot user's events never
    sort in a single task — and boundary-straddling sessions stitch by
    re-running gaps-and-islands over the per-shard session SUMMARIES.
    Results are provably identical to ``sessionize_events`` (property-
    tested in tests/test_sessionize_sharded.py), so this key shares its
    oracle; a green row certifies the skew path end-to-end."""
    from imperio_patitas_etl_spark.operators.sessionize import sessionize_sharded

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize_sharded(e)


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: every click within 10
    minutes after an error of the same user, as raw (err, click) pairs —
    the event-time join family (streaming/events.py:clicks_after_errors).

    This runs the EXACT join expression the streaming path runs (equi on
    user + event-time range residual; Spark keys the join on the equality
    and evaluates the range as a residual filter — no nested loop), so
    the green row certifies the join semantics; stream ≡ batch is
    asserted in tests/test_streaming.py. The scale path for backfills is
    the binned equi-join plan under the ``range_join`` key — same
    semantics, pre-grouped."""
    from imperio_patitas_etl_spark.streaming.events import clicks_after_errors

    return clicks_after_errors(load_table(spark, sf_dir, "events"))


ORACLE_STREAM_INTERVAL_JOIN = """
    SELECT e.event_id AS err_id, c.ts AS click_ts, c.value AS click_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 10 MINUTE
"""


# --------------------------------------------------------------------------
# stream_rolling_distinct — sliding-window distinct users, streaming twin
# --------------------------------------------------------------------------


def q_stream_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming trailing-7-day distinct-users plan
    (streaming/events.py:rolling_distinct_daily): F.window explode →
    dedup on (user, window) → count per window — the two-level rewrite
    that makes COUNT(DISTINCT) over a sliding window a bounded-state
    streaming pipeline. The stream runs the SAME function with
    ``dropDuplicatesWithinWatermark`` (equality pinned in
    tests/test_streaming.py); the green oracle row here certifies the
    shared window arithmetic. Complements ``rolling_distinct_users``,
    which labels windows by inclusive last active day instead of
    F.window's exclusive end."""
    from imperio_patitas_etl_spark.streaming.events import (
        rolling_distinct_daily,
    )

    return rolling_distinct_daily(load_table(spark, sf_dir, "events"))


ORACLE_STREAM_ROLLING = """
    WITH du AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    ex AS (
        SELECT user_id,
               CAST(unnest(generate_series(day + 1, day + 7,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS window_end
        FROM du
    )
    SELECT window_end, COUNT(DISTINCT user_id) AS n_users_7d
    FROM ex GROUP BY window_end
"""


# --------------------------------------------------------------------------
# session_path_trigrams — top within-session event paths
# --------------------------------------------------------------------------

PATH_TOPK = 20


def q_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {PATH_TOPK} three-step event paths users take WITHIN a
    session (the "view → click → purchase vs view → view → view" path
    analysis behind funnel design), sessions defined by the same
    ≥{SESSION_GAP_US}-µs gap rule as ``sessionize_events``.

    Scale: everything happens inside ONE user_id window pass — session
    ordinals (lag + running sum) and the two look-aheads share the same
    (user, ts, event_id) sort, and session-boundary trigrams are
    discarded by comparing the LED session ordinals instead of
    re-windowing by (user, session): partitioning a second window by the
    finer key would re-shuffle the stream for no reason. The path
    aggregate is ≤|event_types|³ rows, combinable map-side; top-k order
    (n_paths DESC, e1, e2, e3) is unique."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(epoch_us("ts")).over(w)
    new_sess = (
        F.when(
            prev_us.isNull() | (epoch_us("ts") - prev_us >= SESSION_GAP_US),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    numbered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s1"),
    )
    tri = numbered.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "s1",
        F.lead("s1", 1).over(w).alias("s2"),
        F.lead("s1", 2).over(w).alias("s3"),
    )
    return (
        tri.filter(
            (F.col("s2") == F.col("s1")) & (F.col("s3") == F.col("s1"))
        )
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(PATH_TOPK)
    )


ORACLE_SESSION_PATHS = f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS s1
        FROM ordered
    ), tri AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3,
               s1,
               lead(s1, 1) OVER w AS s2,
               lead(s1, 2) OVER w AS s3
        FROM numbered
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, COUNT(*) AS n_paths
    FROM tri WHERE s2 = s1 AND s3 = s1
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT {PATH_TOPK}
"""


QUERIES = {
    "stream_sliding_window": q_stream_sliding_window,
    "stream_interval_join": q_stream_interval_join,
    "stream_session_window": q_stream_session_window,
    "stream_dedup": q_stream_dedup,
    "json_extract": q_json_extract,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "sessionize_events": q_sessionize_events,
    "sessionize_sharded": q_sessionize_sharded,
    "session_path_trigrams": q_session_path_trigrams,
    "stream_rolling_distinct": q_stream_rolling_distinct,
}

ORACLE = {
    "stream_sliding_window": ORACLE_SLIDING,
    "stream_interval_join": ORACLE_STREAM_INTERVAL_JOIN,
    "stream_session_window": ORACLE_SESSION,
    "stream_dedup": ORACLE_STREAM_DEDUP,
    "json_extract": ORACLE_JSON_EXTRACT,
    "asof_join": ORACLE_ASOF,
    "range_join": ORACLE_RANGE_JOIN,
    "sessionize_events": ORACLE_SESSIONIZE,
    "sessionize_sharded": ORACLE_SESSIONIZE,
    "session_path_trigrams": ORACLE_SESSION_PATHS,
    "stream_rolling_distinct": ORACLE_STREAM_ROLLING,
}
