"""Warehouse-analytics operators (r7).

The reference pipeline (app/services/etl_service.py) keeps only the
LATEST version of every row (MERGE latest-wins); these are the analytics
the same warehouse grows next:

- ``scd2_history`` / ``scd2_incremental`` / ``scd2_asof_lookup`` — the
  Type-2 history (non-destructive twin of that MERGE), its delta-apply
  maintenance proven equal to the rebuild, and the point-in-time lookup
  that motivates both;
- ``event_funnel`` / ``retention_cohorts`` — ordered-step conversion
  and weekly cohort retention over the events stream;
- ``bloom_prefilter_join`` — the auditable build-side-bounded bloom
  semi-join prefilter;
- ``cm_sketch_topk`` — deterministic count-min sketch with a published
  overcount audit;
- ``zorder_layout_audit`` — Morton layout key + per-file 2-D locality;
- ``dq_profile`` — one-pass columnar ingest profile;
- ``pareto_frontier_2d`` — the O(n log n) windowed skyline.

All deterministic integer/timestamp arithmetic; every key has a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.functions.cleaning import epoch_us
from imperio_patitas_etl_spark.operators.checkpoint import release_plan
from imperio_patitas_etl_spark.operators.prefix_sum import (
    partitioned_prefix_sum,
)
from imperio_patitas_etl_spark.sources.parquet import load_table

_MD5INT = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def _sql_md5int(x: str) -> str:
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


# --------------------------------------------------------------------------
# scd2_history — Type-2 slowly-changing-dimension build
# --------------------------------------------------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Type-2 SCD history from a change feed: each customer's
    orders, in (o_orderdate, o_orderkey) order, become consecutive
    versions with [valid_from, valid_to) intervals; the open interval is
    the current version. This is the history-preserving twin of the
    reference's latest-wins MERGE (etl_service.py:252-325 keeps only the
    last version; SCD2 keeps them all and makes point-in-time joins
    possible).

    Scale: ONE window shuffle on the natural key (o_custkey) computes
    version ordinal and lead() in the same pass — the same
    partitioning-reuse shape as sessionize_events. Incremental refresh
    at 100 TB MERGEs only the keys present in the new batch (close the
    open interval, insert the new one) — the upsert machinery in
    operators/upsert.py composes with this directly. The window build
    lives in ``operators/scd2.py:scd2_from_orders`` (shared with the
    incremental path)."""
    from imperio_patitas_etl_spark.operators.scd2 import scd2_from_orders

    h = scd2_from_orders(load_table(spark, sf_dir, "orders"))
    return h.select(
        "custkey",
        "version",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "priority",
        "price_cents",
    )


ORACLE_SCD2_HISTORY = """
    SELECT o_custkey AS custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           LEAD(o_orderdate) OVER w IS NULL AS is_current,
           o_orderpriority AS priority,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------------------------------------
# event_funnel — ordered-step conversion
# --------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    converts at step k only with an event STRICTLY AFTER their step-k-1
    conversion time (first qualifying event wins). Returns one row per
    user with the three conversion instants (NULL where the stage was
    never reached) — the per-user times, not just counts, because on a
    dense fixture every user converts at every stage and a count-level
    check could not tell strict from non-strict ordering.

    Scale: ONE scan and ONE user_id shuffle for the whole funnel. Both
    stage conditions are strictly-earlier-existence tests, so they
    compile to running mins over a RANGE window (unbounded-preceding to
    -1 µs on the epoch axis): a click qualifies iff a view exists
    strictly before it; a purchase qualifies iff a QUALIFIED click
    exists strictly before it. The two windows share one window spec
    (one sort, no second exchange), the per-user rollup is
    co-partitioned with them, and the final reduce is a single row.
    The joined-cascade alternative re-scans events per stage and
    shuffles each per-user table — this form adds a stage for the cost
    of one more window aggregate.

    Tie sensitivity (the asof_join NULL-injection discipline): the
    fixture's timestamps are collision-free, so STRICTLY-after would be
    indistinguishable from at-or-after; half the events are
    deterministically truncated to day precision (mirrored in the
    oracle), planting thousands of cross-type same-instant pairs that
    make the hash check fail if either engine drops the strictness."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.when(
            F.col("event_id") % 2 == 0, F.date_trunc("day", F.col("ts"))
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    us = epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    staged = (
        e.select(
            "user_id",
            "event_type",
            us.alias("us"),
        )
        .select(
            "user_id",
            "event_type",
            "us",
            F.min(
                F.when(F.col("event_type") == "view", F.col("us"))
            ).over(w).alias("first_view_before"),
        )
        .select(
            "user_id",
            "event_type",
            "us",
            F.when(
                (F.col("event_type") == "click")
                & F.col("first_view_before").isNotNull(),
                F.col("us"),
            ).alias("qclick_us"),
            "first_view_before",
        )
        .select(
            "user_id",
            "event_type",
            "us",
            "qclick_us",
            F.min("qclick_us").over(w).alias("first_qclick_before"),
        )
    )
    return staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "viewed_us"
        ),
        F.min("qclick_us").alias("clicked_us"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("first_qclick_before").isNotNull(),
                F.col("us"),
            )
        ).alias("purchased_us"),
    )


ORACLE_EVENT_FUNNEL = """
    WITH ev AS (
        SELECT user_id, event_type,
               CASE WHEN event_id % 2 = 0
                    THEN CAST(date_trunc('day', ts) AS TIMESTAMP)
                    ELSE ts END AS ts
        FROM events
    ),
    viewed AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
    ),
    clicked AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM ev e JOIN viewed v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ),
    purchased AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM ev e JOIN clicked c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT u.user_id,
           date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', v.t1)
               AS viewed_us,
           date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', c.t2)
               AS clicked_us,
           date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', p.t3)
               AS purchased_us
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN viewed v ON u.user_id = v.user_id
    LEFT JOIN clicked c ON u.user_id = c.user_id
    LEFT JOIN purchased p ON u.user_id = p.user_id
"""


# --------------------------------------------------------------------------
# retention_cohorts — weekly cohort retention triangle
# --------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the ISO week of
    their first event; for each (cohort_week, week_offset) the number of
    cohort members active that week. The classic growth-analytics
    rollup.

    Scale: first-seen is one user_id aggregate; the activity join is
    user_id-co-partitioned with it; the final rollup aggregates to
    (weeks × offsets) rows — partials combine map-side. The distinct
    inside the final count is per (cohort, offset, user), bounded by
    activity rows, never a cross product."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # cohort_week emitted as DATE: DuckDB's date_trunc('week', ts) is a
    # DATE while Spark's is a timestamp — the date form is also the type
    # a cohort key should be.
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    return (
        activity.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.col("activity_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_RETENTION_COHORTS = """
    WITH first AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', CAST(cohort_week AS DATE),
                          CAST(activity_week AS DATE)) // 7 AS BIGINT)
               AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# bloom_prefilter_join — auditable build-side-bounded bloom semi-join
# --------------------------------------------------------------------------

BLOOM_BITS = 1 << 16
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_SALTS = ("b0_", "b1_", "b2_")
BLOOM_PART_SIZE = 15


def _bloom_pos(expr: str, salt: str) -> str:
    inner = f"concat('{salt}', CAST({expr} AS STRING))"
    return f"({_MD5INT.format(x=inner)} % {BLOOM_BITS})"


def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join, made explicit and auditable: hash
    the build side (parts of one size class) into a 2^16-slot / 3-hash
    bloom position set, broadcast the ONE-ROW position array onto the
    probe side (lineitem), and count probe rows overall / passing the
    bloom / truly matching / false positives.

    Spark 3.3+ applies a runtime row-level bloom like this transparently
    (spark.sql.optimizer.runtimeFilter.bloomFilter); this operator exists
    because a 100 TB pipeline also needs the AUDITED form — a
    deterministic md5-based filter whose false-positive count is itself a
    query result, checkable by the oracle, and whose position set can be
    persisted and reused across runs (a runtime filter cannot).

    The broadcast representation is a DENSE BITMAP — 1,024 longs
    (BLOOM_WORDS) packing the 2^16 bits — NOT the sorted distinct-position
    array the first cut shipped (r7-r15). The array form made every
    probe row pay three ``array_contains`` LINEAR scans of a position
    set whose length grows with the build side, so 10× data cost 10×
    rows × ~10× scan length — measured 6.9× wall at sf0.1→sf1 (the
    BASELINE.md superlinear table's bloom row).
    The bitmap's membership test is ``element_at(bits, pos div 64 + 1)``
    — an O(1) array index plus a bit mask — and the broadcast payload
    is a CONSTANT 8 KiB regardless of build cardinality. The bit set is
    identical to the old position set, so bloom_pass (and every output
    count) is bit-for-bit unchanged; at sf1 this took the key from
    ~19 s to probe-linear (~2 s sf0.1 / ~7 s sf1 measured). The probe
    side is never shuffled — the bloom pass is a narrow map, and only
    the exact-verify count touches a (broadcast) join."""
    build = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == BLOOM_PART_SIZE)
        .select("p_partkey")
    )
    # sparse (word index → 64-bit word) via bit_or, then densified ONCE
    # on the one-row build side into a fixed-width long array
    bitmap = (
        build.select(
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos("p_partkey", s))
                        for s in BLOOM_SALTS
                    ]
                )
            ).alias("pos")
        )
        .groupBy(F.expr("pos div 64").alias("widx"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("word"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("widx", "word"))
            ).alias("wm")
        )
        .select(
            F.expr(
                f"transform(sequence(0, {BLOOM_WORDS - 1}),"
                " i -> coalesce(element_at(wm, CAST(i AS BIGINT)), 0L))"
            ).alias("bits")
        )
    )
    probe = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    # hash positions materialized once per row, then O(1) bit probes
    hashed = probe.select(
        "l_partkey",
        *[
            F.expr(_bloom_pos("l_partkey", s)).alias(f"p{i}")
            for i, s in enumerate(BLOOM_SALTS)
        ],
    )
    bit_set = [
        F.expr(
            f"(element_at(bits, CAST(p{i} div 64 AS INT) + 1)"
            f" & shiftleft(1L, CAST(p{i} % 64 AS INT))) != 0"
        ).alias(f"h{i}")
        for i in range(len(BLOOM_SALTS))
    ]
    passed = (
        hashed.crossJoin(F.broadcast(bitmap))
        .select("l_partkey", *bit_set)
        .select(
            "l_partkey",
            (F.col("h0") & F.col("h1") & F.col("h2")).alias("bloom_pass"),
        )
    )
    matched = passed.join(
        F.broadcast(build), passed.l_partkey == build.p_partkey, "left"
    ).select(
        "bloom_pass", F.col("p_partkey").isNotNull().alias("is_match")
    )
    return matched.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_match"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_match"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


def _sql_bloom_pos(expr: str, salt: str) -> str:
    inner = f"'{salt}' || CAST({expr} AS VARCHAR)"
    return f"({_sql_md5int(inner)} % {BLOOM_BITS})"


ORACLE_BLOOM_PREFILTER = f"""
    WITH build AS (
        SELECT p_partkey FROM part WHERE p_size = {BLOOM_PART_SIZE}
    ),
    pos AS (
        SELECT list(DISTINCT pos ORDER BY pos) AS pos_set FROM (
            SELECT unnest([
                {_sql_bloom_pos('p_partkey', 'b0_')},
                {_sql_bloom_pos('p_partkey', 'b1_')},
                {_sql_bloom_pos('p_partkey', 'b2_')}
            ]) AS pos FROM build
        )
    ),
    tested AS (
        SELECT l_partkey,
               list_contains(pos_set, {_sql_bloom_pos('l_partkey', 'b0_')})
               AND list_contains(pos_set, {_sql_bloom_pos('l_partkey', 'b1_')})
               AND list_contains(pos_set, {_sql_bloom_pos('l_partkey', 'b2_')})
                   AS bloom_pass,
               l_partkey IN (SELECT p_partkey FROM build) AS is_match
        FROM lineitem CROSS JOIN pos
    )
    SELECT COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM tested
"""


# --------------------------------------------------------------------------
# scd2_incremental — incremental batch-apply proven equal to the rebuild
# --------------------------------------------------------------------------

SCD2_SPLIT = "1999-01-01"


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance, proven against the batch rebuild:
    the history is built from orders BEFORE the split date, then the
    post-split batch is applied incrementally — new versions numbered
    from each key's existing max, the previously-open interval closed at
    the batch's first change — and the oracle is the FULL-rebuild SQL,
    so the driver hash certifies incremental ≡ rebuild row-for-row.
    (Sound because a key's batch changes all postdate its history —
    the split is on the version-ordering column.)

    Scale: this is the shape that matters at 100 TB — the daily delta
    touches only its own keys. The per-key state carried into the apply
    is ONE row (max version, open valid_from), a skinny aggregate of the
    existing history joined batch-side; untouched keys' rows pass
    through unread (in a real table, untouched PARTITIONS pass through
    unwritten — the MERGE machinery of operators/upsert.py). The apply
    itself is ``operators/scd2.py:scd2_apply``."""
    from imperio_patitas_etl_spark.operators.scd2 import (
        scd2_apply,
        scd2_from_orders,
    )

    o = load_table(spark, sf_dir, "orders")
    split = F.lit(SCD2_SPLIT).cast("timestamp_ntz")
    prefix, batch = o.filter(F.col("o_orderdate") < split), o.filter(
        F.col("o_orderdate") >= split
    )
    merged = scd2_apply(scd2_from_orders(prefix), batch)
    return merged.select(
        "custkey",
        "version",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "priority",
        "price_cents",
    )


# the oracle IS the batch rebuild — hash equality proves the incremental
# path reproduces it exactly
ORACLE_SCD2_INCREMENTAL = ORACLE_SCD2_HISTORY


# --------------------------------------------------------------------------
# scd2_asof_lookup — point-in-time dimension join over the SCD2 history
# --------------------------------------------------------------------------


def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each lineitem resolves its
    customer's priority AS OF the ship date against the SCD2 history —
    the join that makes SCD2 worth building (training-data pipelines
    need it for leakage-free feature backfills: the feature value as of
    the event, never a later version). Rolled up to priority × count ×
    cents so the result is audit-sized; facts older than their
    customer's first version land in the NULL bucket (a LEFT as-of —
    silently dropping them would hide backfill gaps).

    Scale: the fact side joins orders once on orderkey (both
    fact-sized, one shuffle), then the as-of itself is the union+window
    composition of operators/joins.py:asof_join — ONE shuffle on
    custkey, no inequality self-join. Versions deduplicate to the last
    one per (custkey, valid_from) first, so equal-instant ties cannot
    make the match engine-dependent (DuckDB's ASOF JOIN picks
    arbitrarily among ties; ours picks the greatest struct)."""
    from imperio_patitas_etl_spark.operators.joins import asof_join

    versions = q_scd2_history(spark, sf_dir)
    vw = Window.partitionBy("custkey", "valid_from").orderBy(
        F.col("version").desc()
    )
    dim = (
        versions.select(
            "custkey", "valid_from", "version", "priority",
            F.row_number().over(vw).alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "custkey",
            F.col("valid_from").alias("ts"),
            "priority",
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    facts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ts"),
        "cents",
    )
    matched = asof_join(facts, dim, key="custkey", ts="ts", value_cols=["priority"])
    return (
        matched.groupBy(F.col("asof_priority").alias("priority_asof"))
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


ORACLE_SCD2_ASOF = """
    WITH hist AS (
        SELECT o_custkey AS custkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               o_orderdate AS valid_from,
               o_orderpriority AS priority
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    dim AS (
        SELECT custkey, valid_from AS ts, priority FROM (
            SELECT custkey, valid_from, priority,
                   ROW_NUMBER() OVER (PARTITION BY custkey, valid_from
                                      ORDER BY version DESC) AS rn
            FROM hist
        ) WHERE rn = 1
    ),
    facts AS (
        SELECT o.o_custkey AS custkey, l.l_shipdate AS ts,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT d.priority AS priority_asof,
           COUNT(*) AS n,
           CAST(SUM(f.cents) AS BIGINT) AS sum_cents
    FROM facts f ASOF LEFT JOIN dim d
        ON f.custkey = d.custkey AND f.ts >= d.ts
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# cm_sketch_topk — deterministic count-min sketch with error audit
# --------------------------------------------------------------------------

CM_WIDTH = 1024
CM_SALTS = ("cm0_", "cm1_", "cm2_")
CM_TOPK = 10


def q_cm_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, audited against
    exact counts for the top-10 tokens: est ≥ true always (the sketch
    only overcounts), and the overcount is published per token instead
    of trusted.

    Scale: the sketch is a groupBy to depth×width = 3×1024 cells —
    fixed-size state however large the corpus, map-side combinable, and
    mergeable across days/shards by cell-wise addition (the reason
    CM beats exact counting at 100 TB). The probe set here is the exact
    top-k (itself a combinable token groupBy + TakeOrdered); in
    production the probe is whatever keys you monitor. Deterministic md5
    row-hashes make the whole sketch oracle-checkable — a random-seed
    sketch is not."""
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split("text", " ")).alias("tok"))
    cells = (
        tokens.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("r"),
                            F.expr(
                                f"{_MD5INT.format(x=f'''concat('{s}', tok)''')}"
                                f" % {CM_WIDTH}"
                            ).alias("col"),
                        )
                        for i, s in enumerate(CM_SALTS)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        tokens.groupBy("tok")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("tok"))
        .limit(CM_TOPK)
    )
    probed = top.select(
        "tok",
        "true_n",
        *[
            F.expr(
                f"{_MD5INT.format(x=f'''concat('{s}', tok)''')} % {CM_WIDTH}"
            ).alias(f"c{i}")
            for i, s in enumerate(CM_SALTS)
        ],
    )
    est = probed
    for i in range(len(CM_SALTS)):
        ci = cells.filter(F.col("r") == i).select(
            F.col("col").alias(f"c{i}"), F.col("cnt").alias(f"n{i}")
        )
        est = est.join(F.broadcast(ci), f"c{i}")
    return est.select(
        "tok",
        "true_n",
        F.least(*[F.col(f"n{i}") for i in range(len(CM_SALTS))]).alias("est_n"),
    ).select(
        "tok",
        "true_n",
        "est_n",
        (F.col("est_n") - F.col("true_n")).alias("overcount"),
    )


def _sql_cm_col(salt: str, expr: str = "tok") -> str:
    inner = f"'{salt}' || {expr}"
    return f"({_sql_md5int(inner)} % {CM_WIDTH})"


ORACLE_CM_SKETCH = f"""
    WITH tokens AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
        SELECT r, col, COUNT(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {i} AS r, {_sql_cm_col(s)} AS col FROM tokens"
                for i, s in enumerate(CM_SALTS)
            )}
        ) GROUP BY r, col
    ),
    top AS (
        SELECT tok, COUNT(*) AS true_n FROM tokens GROUP BY tok
        ORDER BY true_n DESC, tok LIMIT {CM_TOPK}
    )
    SELECT t.tok, t.true_n,
           LEAST({", ".join(
               f"(SELECT cnt FROM cells WHERE r = {i} "
               f"AND col = {_sql_cm_col(s, 't.tok')})"
               for i, s in enumerate(CM_SALTS)
           )}) AS est_n,
           LEAST({", ".join(
               f"(SELECT cnt FROM cells WHERE r = {i} "
               f"AND col = {_sql_cm_col(s, 't.tok')})"
               for i, s in enumerate(CM_SALTS)
           )}) - t.true_n AS overcount
    FROM top t
"""


# --------------------------------------------------------------------------
# zorder_layout_audit — Z-order interleaved layout key + locality audit
# --------------------------------------------------------------------------

ZORDER_BITS = 8
ZORDER_FILE_BUCKETS = 64


def _z_interleave(px: str, sx: str, spark_side: bool) -> str:
    """Bit-interleave two 8-bit values; constant 16-term expression."""
    terms = []
    for i in range(ZORDER_BITS):
        if spark_side:
            terms.append(f"shiftleft(shiftright({px}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({sx}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({px} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({sx} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def q_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (partkey, suppkey) with a
    locality audit: bucket rows into ZORDER_FILE_BUCKETS "files" by
    z-value and report each file's min/max range in BOTH dimensions.
    Narrow ranges in both columns are exactly what makes multi-column
    file skipping work — this is the audit you run after a Z-order
    rewrite to prove the clustering took (Delta/Iceberg OPTIMIZE ZORDER
    compute the same key; here it is explicit and oracle-checked).

    Scale: the z-key is a constant 16-term bit expression (zero
    shuffle); the audit aggregates to a fixed bucket count with
    map-side combine. The production write sorts by z — a range
    partition + local sort, the same cost as any global sort-write."""
    li = load_table(spark, sf_dir, "lineitem")
    px, sx = f"(l_partkey % {1 << ZORDER_BITS})", f"(l_suppkey % {1 << ZORDER_BITS})"
    # integer division end to end (z div cell): float division + cast
    # truncates on Spark but rounds on DuckDB — the repo-wide rule is
    # never to let a float near a bucketing boundary
    cell = (1 << (2 * ZORDER_BITS)) // ZORDER_FILE_BUCKETS
    return (
        li.select(
            F.expr(
                f"CAST({_z_interleave(px, sx, spark_side=True)} div {cell} AS BIGINT)"
            ).alias("file_id"),
            F.expr(px).alias("p8"),
            F.expr(sx).alias("s8"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n"),
            F.min("p8").alias("p_min"),
            F.max("p8").alias("p_max"),
            F.min("s8").alias("s_min"),
            F.max("s8").alias("s_max"),
        )
    )


ORACLE_ZORDER = f"""
    WITH keyed AS (
        SELECT CAST({_z_interleave(f"(l_partkey % {1 << ZORDER_BITS})",
                                   f"(l_suppkey % {1 << ZORDER_BITS})",
                                   spark_side=False)}
                    // {(1 << (2 * ZORDER_BITS)) // ZORDER_FILE_BUCKETS}
                    AS BIGINT) AS file_id,
               l_partkey % {1 << ZORDER_BITS} AS p8,
               l_suppkey % {1 << ZORDER_BITS} AS s8
        FROM lineitem
    )
    SELECT file_id, COUNT(*) AS n,
           MIN(p8) AS p_min, MAX(p8) AS p_max,
           MIN(s8) AS s_min, MAX(s8) AS s_max
    FROM keyed GROUP BY file_id
"""


# --------------------------------------------------------------------------
# dq_profile — one-pass column profile of a fact table
# --------------------------------------------------------------------------


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of lineitem: per profiled column a
    row of (nulls, distinct, min/max in exact integer units) — the scan
    every ingest pipeline runs before accepting a batch. The entity-tier
    twin is ``dq_flags`` (reference-fidelity warnings); this is the
    generic columnar form.

    Scale: ONE aggregate pass, no per-column scans — all measures are
    conditional/distinct aggregates in a single groupBy().agg() (Spark
    plans multi-distinct with one Expand, still a single scan), then the
    fixed-width result is unpivoted to rows. Cardinalities are exact
    here to stay oracle-checkable; at 100 TB swap the exact distinct for
    the KMV sketch (`kmv_distinct_sketch`) — same plan shape."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.round(F.col("l_quantity") * 100).cast("long"),
        "extendedprice": F.round(F.col("l_extendedprice") * 100).cast("long"),
        "discount": F.round(F.col("l_discount") * 100).cast("long"),
        "partkey": F.col("l_partkey").cast("long"),
    }
    aggs = []
    for name, expr in cols.items():
        aggs += [
            F.sum(F.when(expr.isNull(), 1).otherwise(0)).alias(f"{name}__nulls"),
            F.countDistinct(expr).alias(f"{name}__distinct"),
            F.min(expr).alias(f"{name}__min"),
            F.max(expr).alias(f"{name}__max"),
        ]
    wide = li.agg(*aggs)
    return wide.unpivot(
        [],
        [c for c in wide.columns],
        "measure",
        "value",
    ).select(
        F.split(F.col("measure"), "__").getItem(0).alias("column_name"),
        F.split(F.col("measure"), "__").getItem(1).alias("measure"),
        "value",
    )


def _sql_dq_col(name: str, unit_expr: str) -> str:
    return " UNION ALL ".join(
        [
            f"SELECT '{name}' AS column_name, 'nulls' AS measure, "
            f"CAST(SUM(CASE WHEN {unit_expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value FROM lineitem",
            f"SELECT '{name}', 'distinct', COUNT(DISTINCT {unit_expr}) FROM lineitem",
            f"SELECT '{name}', 'min', MIN({unit_expr}) FROM lineitem",
            f"SELECT '{name}', 'max', MAX({unit_expr}) FROM lineitem",
        ]
    )


ORACLE_DQ_PROFILE = " UNION ALL ".join(
    [
        _sql_dq_col("quantity", "CAST(ROUND(l_quantity * 100) AS BIGINT)"),
        _sql_dq_col("extendedprice", "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"),
        _sql_dq_col("discount", "CAST(ROUND(l_discount * 100) AS BIGINT)"),
        _sql_dq_col("partkey", "CAST(l_partkey AS BIGINT)"),
    ]
)


# --------------------------------------------------------------------------
# pareto_frontier_2d — windowed skyline (the O(n log n) form)
# --------------------------------------------------------------------------


def q_pareto_frontier_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional Pareto frontier per order priority: the orders
    not dominated on (totalprice, orderdate) — maximize both — within
    their priority class. The naive form is a NOT EXISTS inequality
    self-join (O(n²), the oracle runs exactly that); the 2-D structure
    admits the sort form: descending by price, a row is on the frontier
    iff its date strictly exceeds the running max date of all
    strictly-higher-priced rows.

    Scale: ONE window shuffle on the priority key — the O(n log n)
    skyline. Domination splits exactly into (a) a strictly-higher-priced
    row with date ≥ mine — a RANGE frame ending 1 cent above the current
    row — and (b) an equal-priced row with date strictly greater — a max
    over the (priority, cents) peer group, which Spark satisfies with a
    re-sort of the SAME priority partitioning, no second exchange. Rows
    equal in both dimensions are mutually non-dominating and all kept."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w_above = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("o_orderpriority", "cents")
    keyed = o.select(
        "o_orderkey",
        "o_orderpriority",
        cents.alias("cents"),
        epoch_us("o_orderdate").alias("date_us"),
    )
    return (
        keyed.select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            "date_us",
            F.max("date_us").over(w_above).alias("best_date_above"),
            F.max("date_us").over(w_eq).alias("best_date_peer"),
        )
        .filter(
            (
                F.col("best_date_above").isNull()
                | (F.col("date_us") > F.col("best_date_above"))
            )
            & (F.col("date_us") == F.col("best_date_peer"))
        )
        .select("o_orderkey", "o_orderpriority", "cents", "date_us")
    )


# NOTE: this oracle is DELIBERATELY the naive quadratic skyline — the
# whole point of the pairing. It takes ~2.5 min at sf0.1 (150k orders);
# the Spark window form it certifies runs in <1 s.
ORACLE_PARETO = """
    WITH keyed AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               date_diff('microsecond',
                         TIMESTAMP '1970-01-01 00:00:00', o_orderdate)
                   AS date_us
        FROM orders
    )
    SELECT k.o_orderkey, k.o_orderpriority, k.cents, k.date_us
    FROM keyed k
    WHERE NOT EXISTS (
        SELECT 1 FROM keyed d
        WHERE d.o_orderpriority = k.o_orderpriority
          AND d.cents >= k.cents AND d.date_us >= k.date_us
          AND (d.cents > k.cents OR d.date_us > k.date_us)
    )
"""


# --------------------------------------------------------------------------
# resample_ffill — time-spine gap fill + forward fill
# --------------------------------------------------------------------------


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resampling with forward fill: per user, a gap-free daily
    spine from the user's first to last active day; days with no events
    carry the LAST OBSERVED daily event count forward (the standard
    sensor/metrics "resample + ffill" — pandas ``resample('D').ffill()``
    as a distributed plan).

    Scale: every stage is keyed by user_id — the daily rollup
    (map-side-combinable count), the span aggregate, the spine explode
    (bounded by the user's active date RANGE, not the corpus), the
    spine↔daily join, and the ignore-nulls fill window all co-partition
    on the same key, so AQE collapses them onto one exchange. Spine
    width is data-bounded: a user active d days explodes to at most
    (max-min+1) rows — there is no global calendar cross join."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    daily = (
        e.select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("n_events"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("n_events").isNotNull().cast("int").alias("observed"),
            F.last("n_events", ignorenulls=True).over(fill).alias(
                "n_events_filled"
            ),
        )
    )


ORACLE_RESAMPLE_FFILL = """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                             AS DATE) AS day
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY user_id)
    )
    SELECT s.user_id, s.day,
           CAST(d.n_events IS NOT NULL AS INT) AS observed,
           last_value(d.n_events IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_events_filled
    FROM spine s LEFT JOIN daily d
      ON d.user_id = s.user_id AND d.day = s.day
"""


# --------------------------------------------------------------------------
# incremental_agg_merge — incremental view maintenance of a groupBy
# --------------------------------------------------------------------------

#: Orders strictly before this date play the maintained "base" aggregate
#: (the state a 100 TB warehouse has already paid for); the rest is the
#: newly-arrived delta batch. The merge must equal the full recompute —
#: which is exactly what the oracle computes.
IVM_SPLIT_DATE = "1999-01-01"


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a per-customer order aggregate:
    merge a pre-aggregated base state with the aggregate of a delta
    batch via full-outer coalesce-sum, instead of rescanning the base.
    COUNT and SUM are self-maintainable, so merged == full recompute —
    the oracle IS the full recompute, making the green row a proof of
    the merge operator, not just of one query.

    Scale: this is the pattern that turns a 100 TB nightly rebuild into
    a delta-sized job — the base side is a stored aggregate (customer-
    cardinality rows, not order-cardinality), the delta aggregate is
    map-side-combinable over the new partition only, and the merge is
    one equi-join on the grouping key both sides are already hashed by."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    split = F.lit(IVM_SPLIT_DATE).cast("timestamp")

    def agg(part: DataFrame) -> DataFrame:
        return part.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    base = agg(o.filter(F.col("o_orderdate") < split))
    delta = agg(o.filter(F.col("o_orderdate") >= split))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (
                F.coalesce(F.col("b.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("b.total_cents"), F.lit(0))
                + F.coalesce(F.col("d.total_cents"), F.lit(0))
            ).alias("total_cents"),
        )
    )


ORACLE_INCREMENTAL_AGG_MERGE = """
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# rolling_distinct_users — sliding-window distinct counts (trailing WAU)
# --------------------------------------------------------------------------

ROLLING_WINDOW_DAYS = 7


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the WAU curve).
    COUNT(DISTINCT) OVER a sliding range isn't a window Spark (or any
    engine) can decompose, so the standard distributed rewrite applies:
    collapse to distinct (user, day) once, explode each active day into
    the ≤7 window-end days it contributes to, and count distinct users
    per window end.

    Scale: the explode factor is the window length (a constant), the
    pre-collapse bounds it by ACTIVE (user, day) pairs rather than raw
    events, and the final count-distinct is a two-level exact aggregate
    on (window_end, user) — partials combine map-side; no self-join of
    the events table against its own 7-day range (the O(n·w) row
    explosion stays, but on the collapsed relation, which is the known
    optimum for exact sliding distinct)."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    w = ROLLING_WINDOW_DAYS - 1
    return (
        du.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(day, date_add(day, {w}), interval 1 day)")
            ).alias("window_end"),
        )
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
    )


ORACLE_ROLLING_DISTINCT = f"""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    ex AS (
        SELECT user_id,
               CAST(unnest(generate_series(
                   day, day + {ROLLING_WINDOW_DAYS - 1}, INTERVAL 1 DAY))
                    AS DATE) AS window_end
        FROM du
    )
    SELECT window_end, COUNT(DISTINCT user_id) AS n_users_7d
    FROM ex GROUP BY window_end
"""


# --------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions between events
# --------------------------------------------------------------------------


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every (from_type → to_type) pair of CONSECUTIVE events
    of the same user, the transition count and its row-normalized
    probability in basis points — the "what do users do next" model
    behind session analysis and next-action prediction.

    Scale: one user_id-partitioned window (users are many, so the sort
    parallelizes; the per-user sequence is the unavoidable sequential
    unit), then a combinable groupBy to an |event_types|² relation —
    constant-sized however big the corpus — whose row totals broadcast
    back. prob_bp is exact integral `div`; the (ts, event_id) sort key
    is unique per user, so consecutive-pair extraction is deterministic
    under ties."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_trans").alias("row_total")
    )
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.expr("(n_trans * 10000) div row_total").alias("prob_bp"),
        )
    )


ORACLE_EVENT_TRANSITIONS = """
    WITH nxt AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    trans AS (
        SELECT from_type, to_type, COUNT(*) AS n_trans
        FROM nxt WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    tot AS (
        SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS row_total
        FROM trans GROUP BY from_type
    )
    SELECT trans.from_type, to_type, n_trans,
           (n_trans * 10000) // row_total AS prob_bp
    FROM trans JOIN tot ON trans.from_type = tot.from_type
"""


# --------------------------------------------------------------------------
# attribution_last_touch — marketing attribution via ignore-nulls carry
# --------------------------------------------------------------------------

ATTRIBUTION_WINDOW_DAYS = 7


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click at or before it, if that click happened within
    the {ATTRIBUTION_WINDOW_DAYS}-day lookback — the standard marketing
    attribution join.

    The naive form is an inequality self-join (purchases × clicks with
    a BETWEEN) — O(n·m) per user and the same trap `scd2_asof_lookup`
    exists to avoid. Instead ONE pass over the interleaved event stream
    carries the last-seen click forward with an ignore-nulls window
    (the carried (ts, id) columns come from the same CASE, so they null
    out together and always describe one click). One user_id shuffle
    total; lookback enforcement is a post-filter on the carried value.
    Ordering by (ts, event_id) makes same-instant click/purchase pairs
    deterministic: the click attributes only if its event_id sorts
    first."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    is_click = F.col("event_type") == "click"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("last_click_id"),
    )
    in_window = F.col("last_click_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS"
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(in_window, F.col("last_click_id")).alias("click_id"),
            F.when(in_window, F.col("last_click_ts")).alias("click_ts"),
            F.coalesce(in_window, F.lit(False)).alias("attributed"),
        )
    )


ORACLE_ATTRIBUTION = f"""
    WITH carried AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS) OVER w AS last_click_ts,
               last_value(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS) OVER w AS last_click_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN last_click_ts >= ts - INTERVAL {ATTRIBUTION_WINDOW_DAYS}
                     DAY
                THEN last_click_id END AS click_id,
           CASE WHEN last_click_ts >= ts - INTERVAL {ATTRIBUTION_WINDOW_DAYS}
                     DAY
                THEN last_click_ts END AS click_ts,
           COALESCE(last_click_ts >= ts - INTERVAL {ATTRIBUTION_WINDOW_DAYS}
                    DAY, FALSE) AS attributed
    FROM carried WHERE event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# dq_anomaly_mad — robust outlier detection via exact median/MAD
# --------------------------------------------------------------------------

MAD_K = 3  # the classic "3 MADs from the median" rule


def _exact_group_median(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    out_col: str,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Exact LOWER median of ``value_col`` per group — the element at
    rank (n+1) div 2 in (value, event_id) order — computed from the
    two-phase prefix-sum scan (rank = running count), NOT a per-group
    Window sort: with a handful of event types over 100 TB a
    ``Window.partitionBy(type)`` would serialize each type into one
    task. The lower median is an actual element, so no averaging float
    enters the pipeline.

    ``counts`` (group_col, n = group size) may be supplied by the caller
    when it already exists; the default derives it from the INPUT
    relation, not from ``max(rnk)`` over the scan output — the prefix
    rank's max per group IS the group size, but reading it from
    ``ranked`` re-ran the Arrow scan a second time per call (r18 plan
    audit: every reference to a ``mapInPandas`` output is a separate
    Python pass; guide §4 — cross the boundary once)."""
    ranked = partitioned_prefix_sum(
        df.withColumn("one", F.lit(1)),
        group_col,
        [value_col, "event_id"],
        "one",
        "rnk",
    )
    if counts is None:
        counts = df.groupBy(group_col).agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(counts), group_col)
        .filter(F.col("rnk") == F.expr("(n + 1) div 2"))
        .select(group_col, F.col(value_col).alias(out_col))
    )


def q_dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier profile: exact lower median of the
    event value, exact lower median absolute deviation (MAD), and the
    count of events beyond {MAD_K}·MAD — the standard data-quality
    anomaly rule that, unlike z-scores, is not itself corrupted by the
    outliers it hunts.

    Exactness: values integerize by FLOOR(value·10⁶) — floor, not
    round, because IEEE floor is bit-identical across engines while
    round's half-way rule is not — and both medians are actual elements
    (rank (n+1) div 2), so no float averaging anywhere.

    Scale: two passes of the prefix-sum scan (operators/prefix_sum.py) —
    one over (type, value) for the median, one over (type, |dev|) for
    the MAD — each partition-parallel regardless of how few event types
    exist; the 5-row median/MAD tables broadcast back onto the stream
    for the final combinable count."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    # Group sizes are identical for both median passes (dev has exactly
    # one row per event), so ONE counts relation serves both; and the
    # 5-row median/MAD tables become driver rows because each is
    # referenced twice (dev build + final projection; mad pick + final
    # projection) — un-materialized, every reference re-ran its whole
    # prefix-scan pipeline including the Arrow pass (16 MapInPandas / 26
    # Exchange nodes in the static plan,
    # plans/r18/dq_anomaly_mad_before.txt; now 2 MapInPandas — one per
    # pass — with the final aggregate reading the Python-free dev
    # relation). Guide §4.1/§3.3. Once collected, nothing reads a
    # pass's prefix-scan checkpoint, so it is freed at once.
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))

    def driver_rows(plan: DataFrame) -> DataFrame:
        rows = spark.createDataFrame(plan.collect(), plan.schema)
        release_plan(plan)
        return rows

    med = driver_rows(
        _exact_group_median(e, "event_type", "vm", "med_micro", counts=counts)
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "vm",
        F.abs(F.col("vm") - F.col("med_micro")).alias("dev"),
    )
    mad = driver_rows(
        _exact_group_median(
            dev.select("event_id", "event_type", F.col("dev").alias("vm")),
            "event_type",
            "vm",
            "mad_micro",
            counts=counts,
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("dev") > MAD_K * F.col("mad_micro")).cast("long")
            ).alias("n_outliers"),
        )
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select("event_type", "n", "med_micro", "mad_micro", "n_outliers")
    )


ORACLE_DQ_ANOMALY_MAD = f"""
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    med AS (
        SELECT event_type, vm AS med_micro FROM (
            SELECT event_type, vm,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY vm, event_id) AS rnk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v
        ) WHERE rnk = (n + 1) // 2
    ),
    dev AS (
        SELECT v.event_id, v.event_type, v.vm,
               ABS(v.vm - med_micro) AS dev
        FROM v JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, dev AS mad_micro FROM (
            SELECT event_type, dev,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY dev, event_id) AS rnk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) WHERE rnk = (n + 1) // 2
    )
    SELECT dev.event_type, COUNT(*) AS n, MIN(med_micro) AS med_micro,
           MIN(mad_micro) AS mad_micro,
           CAST(SUM(CASE WHEN dev > {MAD_K} * mad_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev
    JOIN med ON med.event_type = dev.event_type
    JOIN mad ON mad.event_type = dev.event_type
    GROUP BY dev.event_type
"""


# --------------------------------------------------------------------------
# group_quantiles_exact — exact type-1 quantiles per group from the scan
# --------------------------------------------------------------------------

QUANTILE_PCTS = (25, 50, 75)


def q_group_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of the event value per event type — each
    quantile is the ACTUAL element at rank ⌈q·n/100⌉ (type-1), so no
    interpolation float exists anywhere. One pass of the prefix-sum
    scan supplies every row's exact in-group rank; a 3-row quantile
    spec cross-broadcasts onto the group counts and one filter picks
    the ranked elements. Complements ``dq_anomaly_mad`` (same rank
    machinery, different statistic) and ``quantile_sketch`` (this is
    the exact answer the sketch approximates, per group).

    Scale: identical to the MAD shape — partition-parallel scan
    regardless of group count, |groups|·|quantiles| output rows."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    ranked = partitioned_prefix_sum(
        e.withColumn("one", F.lit(1)),
        "event_type",
        ["vm", "event_id"],
        "one",
        "rnk",
    )
    # group sizes from the INPUT relation, not max(rnk) over the scan
    # output: every reference to a mapInPandas output is a separate Arrow
    # pass (guide §4.1), so deriving counts from `ranked` re-ran the
    # prefix scan just to read group sizes the raw scan already knows
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    spec = spark.createDataFrame(
        [(q,) for q in QUANTILE_PCTS], "q_pct int"
    ).select(F.col("q_pct").cast("long").alias("q_pct"))
    targets = counts.crossJoin(F.broadcast(spec)).select(
        "event_type",
        "q_pct",
        F.expr("(n * q_pct + 99) div 100").alias("rnk"),
    )
    return (
        ranked.join(F.broadcast(targets), ["event_type", "rnk"])
        .select("event_type", "q_pct", F.col("vm").alias("value_micro"))
    )


ORACLE_GROUP_QUANTILES = f"""
    WITH v AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS vm,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY CAST(FLOOR(value * 1000000)
                                                AS BIGINT), event_id)
                   AS rnk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    spec AS (SELECT CAST(unnest(ARRAY{list(QUANTILE_PCTS)}) AS BIGINT)
                 AS q_pct)
    SELECT event_type, q_pct, vm AS value_micro
    FROM v JOIN spec ON rnk = (n * q_pct + 99) // 100
"""


# --------------------------------------------------------------------------
# bom_rollup — hierarchy subtree rollup without recursion
# --------------------------------------------------------------------------

#: decimal-digit hierarchy over part keys: parent(p) = p div 10 for
#: p ≥ 10, keys < 10 are roots — a deterministic stand-in for the BOM /
#: org-chart / category-tree parent relation a real catalog carries.
BOM_POWERS = (1, 10, 100, 1_000, 10_000, 100_000, 1_000_000)


def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a fixed-fanout hierarchy (the BOM / category
    rollup): for every node, the part count and total retail cents of
    its subtree (self + all descendants).

    The classic formulations are recursion (not expressible as one
    DataFrame plan) or per-level iteration (depth shuffles). Neither is
    needed when the ancestor chain is cheaply computable per row: each
    part EXPLODES into its own ≤7-element ancestor PATH
    (p div 10^k while 10^k ≤ p) and one combinable groupBy per ancestor
    sums the subtree — the bounded "path materialization" trick that
    turns hierarchy rollups into a single-shuffle aggregate. Depth is
    ≤ log₁₀(max key): 7 levels covers a million-node tree, 19 covers
    int64 — a CONSTANT explode factor at any scale, with no iteration,
    no driver loop, no recursion."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    powers = ", ".join(str(w) for w in BOM_POWERS)
    chain = (
        f"transform(filter(array({powers}), w -> w = 1 OR w <= p_partkey),"
        f" w -> p_partkey div w)"
    )
    return (
        p.select(
            F.explode(F.expr(chain)).alias("node"),
            "cents",
        )
        .groupBy("node")
        .agg(
            F.count("*").alias("n_subtree"),
            F.sum("cents").alias("subtree_cents"),
        )
    )


ORACLE_BOM_ROLLUP = f"""
    WITH chain AS (
        SELECT p_partkey // w AS node,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
        FROM part,
        LATERAL (SELECT unnest(ARRAY{list(BOM_POWERS)}) AS w)
        WHERE w = 1 OR w <= p_partkey
    )
    SELECT node, COUNT(*) AS n_subtree,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM chain GROUP BY node
"""


# --------------------------------------------------------------------------
# scd2_time_weighted — temporal (duration-weighted) aggregation over SCD2
# --------------------------------------------------------------------------

#: fixed observation horizon closing every open interval — just past the
#: testdata's last order date, so each customer's current version gets
#: the remaining observation time as weight
SCD2_TWA_HORIZON = "2002-01-01"


def q_scd2_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average order value per customer over the SCD2
    validity intervals — the temporal aggregate plain AVG gets wrong
    (AVG weights every version equally; a price in force for 3 years
    must count 36× one in force for a month). Open (current) intervals
    are closed at a fixed horizon, so every customer has positive total
    observation time.

    Exactness: weights are exact integer microseconds
    (epoch_us(valid_to) − epoch_us(valid_from)); the weighted sum
    widens to DECIMAL(38,0) BEFORE the multiply (cents·µs reaches
    ~10¹⁹ for one multi-year interval — past int64) and one integral
    ``div`` at the end yields the answer, the repo's widen-before-multiply
    convention.

    Scale: composes on the scd2_history build — one natural-key window
    shuffle — then a combinable per-key aggregate; nothing new
    shuffles. The same plan maintains incrementally: a new version
    closes one interval, so the stored Σ(cents·dur) and Σ(dur) update
    with delta arithmetic exactly like ``incremental_agg_merge``."""
    h = q_scd2_history(spark, sf_dir)
    horizon = F.lit(SCD2_TWA_HORIZON).cast("timestamp")
    dur = (
        epoch_us(F.coalesce(F.col("valid_to"), horizon))
        - epoch_us(F.col("valid_from"))
    ).alias("dur_us")
    return (
        h.select("custkey", "price_cents", dur)
        .groupBy("custkey")
        .agg(
            F.count("*").alias("n_versions"),
            F.sum("dur_us").alias("total_dur_us"),
            F.expr(
                "CAST(SUM(CAST(price_cents AS DECIMAL(38,0)) * dur_us)"
                " div SUM(CAST(dur_us AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("twa_cents"),
        )
    )


ORACLE_SCD2_TWA = f"""
    WITH h AS ({{scd2}}),
    d AS (
        SELECT custkey, price_cents,
               epoch_us(COALESCE(valid_to, TIMESTAMP '{SCD2_TWA_HORIZON}'))
               - epoch_us(valid_from) AS dur_us
        FROM h
    )
    SELECT custkey, COUNT(*) AS n_versions,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(SUM(CAST(price_cents AS HUGEINT) * dur_us)
                // SUM(CAST(dur_us AS HUGEINT)) AS BIGINT) AS twa_cents
    FROM d GROUP BY custkey
""".format(scd2=ORACLE_SCD2_HISTORY)


# --------------------------------------------------------------------------
# interval_concurrency — sweep-line max concurrent sessions per day
# --------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000


def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the classic interval sweep-line:
    every session interval [first_ts, last_ts] (from the already-green
    ``sessionize_events`` build) emits a +1 point at its start and a −1
    just past its end; the running sum of deltas in global time order IS
    the concurrency curve, and the per-day max of that curve is the
    capacity-planning number (how many simultaneous users did we peak
    at?). An inequality self-join (interval × interval overlap) computes
    the same thing in O(n²); the sweep line is O(n log n) and join-free.

    Exactness: pure integer arithmetic — microsecond epochs, ±1 deltas,
    integral-div day bucketing. The sweep order (t_us, delta, user_id,
    session_no) is a total order (session endpoints are unique per
    (user, session)), so the running sum is well-defined; −1 sorts
    before +1 at equal instants, making the interval closed-open
    [start, end+1µs) on both engines.

    Scale shape: the global running sum does NOT use a single-task
    ``Window.orderBy`` — it rides ``operators/prefix_sum.py``'s
    two-phase Blelloch scan (range-partition by time, per-partition
    totals → exclusive offsets, one Arrow pass), so the concurrency
    curve of a 100 TB event log computes with every partition active.
    The day-max re-aggregation is map-side combinable on the same
    range layout (days are contiguous under the time ordering)."""
    from imperio_patitas_etl_spark.queries.streaming_ops import (
        q_sessionize_events,
    )

    sess = q_sessionize_events(spark, sf_dir)
    starts = sess.select(
        epoch_us(F.col("first_ts")).alias("t_us"),
        F.lit(1).cast("long").alias("delta"),
        "user_id",
        "session_no",
    )
    ends = sess.select(
        (epoch_us(F.col("last_ts")) + 1).alias("t_us"),
        F.lit(-1).cast("long").alias("delta"),
        "user_id",
        "session_no",
    )
    pts = starts.unionByName(ends).withColumn("_all", F.lit(0))
    run = partitioned_prefix_sum(
        pts, "_all", ["t_us", "delta", "user_id", "session_no"], "delta", "conc"
    )
    return (
        run.select(F.expr(f"t_us div {_US_PER_DAY}").alias("day_no"), "conc")
        .groupBy("day_no")
        .agg(
            F.count("*").alias("n_points"),
            F.max("conc").alias("max_concurrent"),
        )
    )


ORACLE_INTERVAL_CONCURRENCY = f"""
    WITH sess AS ({{sessionize}}),
    pts AS (
        SELECT epoch_us(first_ts) AS t_us, 1::BIGINT AS delta,
               user_id, session_no
        FROM sess
        UNION ALL
        SELECT epoch_us(last_ts) + 1, -1::BIGINT, user_id, session_no
        FROM sess
    ), run AS (
        SELECT t_us,
               CAST(SUM(delta) OVER (
                   ORDER BY t_us, delta, user_id, session_no
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS conc
        FROM pts
    )
    SELECT t_us // {_US_PER_DAY} AS day_no, COUNT(*) AS n_points,
           MAX(conc) AS max_concurrent
    FROM run GROUP BY 1
"""

# late import: streaming_ops does not import analytics, so no cycle; the
# sweep-line oracle nests the (already-green) sessionize oracle as its CTE
from imperio_patitas_etl_spark.queries.streaming_ops import (  # noqa: E402
    ORACLE_SESSIONIZE as _ORACLE_SESSIONIZE,
)

ORACLE_INTERVAL_CONCURRENCY = ORACLE_INTERVAL_CONCURRENCY.format(
    sessionize=_ORACLE_SESSIONIZE
)


# --------------------------------------------------------------------------
# cdc_apply — ordered change-log apply with tombstones
# --------------------------------------------------------------------------

def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log apply — the Debezium/Delta-CDF consumer shape:
    a multi-version change stream (op ∈ {{U, D}}, arbitrary arrival
    order) collapses to final table state by LAST-WRITER-WINS per key
    under the total sequence order, with D tombstones deleting the key.
    This is the 3-generation generalization of ``upsert_latest_wins``
    (reference MERGE, etl_service.py:252-293): that operator folds
    exactly two frames and cannot delete; a real replication feed has N
    versions per key and tombstones interleaved.

    The change log derives deterministically from orders: each order is
    an upsert of its customer's "latest order" record, sequenced by
    (o_orderdate, o_orderkey); orders whose md5-hash ≡ 0 (mod 10)
    carry op='D' so ~10% of events are tombstones both engines agree on.

    Scale shape: ONE shuffle on the key; the rank-1-per-key window
    compiles to WindowGroupLimit, so each map task forwards only its
    local winner per key (top-1 pushdown), and version history depth
    never amplifies the exchange. ``n_versions`` rides the same window
    partition for free."""
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        "o_orderdate",
        "o_orderkey",
        F.expr(
            f"CASE WHEN {_MD5INT.format(x='CAST(o_orderkey AS STRING)')} % 10 = 0 "
            "THEN 'D' ELSE 'U' END"
        ).alias("op"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    ranked = log.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n_versions"),
    )
    return (
        ranked.filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_orderdate").alias("last_date"),
            F.col("price_cents").alias("last_price_cents"),
            "n_versions",
        )
    )


ORACLE_CDC_APPLY = f"""
    WITH log AS (
        SELECT o_custkey AS key, o_orderdate, o_orderkey,
               CASE WHEN {_sql_md5int('CAST(o_orderkey AS VARCHAR)')} % 10 = 0
                    THEN 'D' ELSE 'U' END AS op,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
               COUNT(*) OVER (PARTITION BY key) AS n_versions
        FROM log
    )
    SELECT key, o_orderkey AS last_orderkey, o_orderdate AS last_date,
           price_cents AS last_price_cents, CAST(n_versions AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1 AND op <> 'D'
"""


# --------------------------------------------------------------------------
# table_checksum_blocks — merkle-style replica verification
# --------------------------------------------------------------------------

CHECKSUM_BUCKETS = 256
_CK_DROP_MOD = 199  # replica "lost" these rows
_CK_FLIP_MOD = 211  # replica corrupted these rows' price by 1 cent


def q_table_checksum_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level replica verification — how you diff two copies of a
    100 TB table WITHOUT moving either: each row hashes to a 60-bit
    md5 fingerprint over its content columns, rows bucket by
    fingerprint mod {CHECKSUM_BUCKETS}, and each side reduces every
    bucket to (row count, XOR of fingerprints) — an order-independent,
    overflow-free, mergeable digest. Comparing replicas then exchanges
    {CHECKSUM_BUCKETS} rows per side instead of the table; only buckets
    whose digests disagree need row-level repair (the anti-entropy
    design of Dynamo/Cassandra merkle trees, one level deep).

    The "replica" derives deterministically from orders: rows whose key
    hash ≡ 0 (mod {_CK_DROP_MOD}) are missing, rows ≡ 0 (mod
    {_CK_FLIP_MOD}) have their price off by one cent — so the query
    returns exactly the damaged buckets and the two failure modes are
    distinguishable (count mismatch vs XOR-only mismatch). Buckets are
    addressed by KEY hash, not content hash — a corrupted row must stay
    in ITS bucket for the diff to localize (content-addressing would
    move the row to a random other bucket, smearing one corruption
    across two blocks; pinned by test_r7d_ops.py).

    Exactness: fingerprints are the shared md5→int60 primitive over a
    canonical '|'-joined string (integer cents, ISO date — no float or
    locale formatting); XOR and counts are exact integers.

    Scale shape: two parallel map-side-combinable aggregates bounded by
    bucket count, one {CHECKSUM_BUCKETS}-row join. No data-sized
    shuffle anywhere — the whole comparison is O(table scan)."""
    o = load_table(spark, sf_dir, "orders")
    canon = (
        "concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), "
        "o_orderstatus, CAST(price_cents AS STRING), CAST(o_orderdate AS STRING))"
    )
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
        F.expr(_MD5INT.format(x="CAST(o_orderkey AS STRING)")).alias("h_key"),
    )
    replica = base.filter(F.col("h_key") % _CK_DROP_MOD != 0).withColumn(
        "price_cents",
        F.when(
            F.col("h_key") % _CK_FLIP_MOD == 0, F.col("price_cents") + 1
        ).otherwise(F.col("price_cents")),
    )

    def digest(df: DataFrame) -> DataFrame:
        rowh = df.select(
            "h_key", F.expr(_MD5INT.format(x=canon)).alias("row_h")
        )
        return rowh.groupBy(
            (F.col("h_key") % CHECKSUM_BUCKETS).alias("bucket")
        ).agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(row_h)").alias("xor_h"),
        )

    a = digest(base)
    b = digest(replica)
    j = a.alias("a").join(b.alias("b"), "bucket", "full_outer")
    return (
        j.filter(
            (F.col("a.n_rows").eqNullSafe(F.col("b.n_rows")) == False)  # noqa: E712
            | (F.col("a.xor_h").eqNullSafe(F.col("b.xor_h")) == False)  # noqa: E712
        )
        .select(
            "bucket",
            F.coalesce(F.col("a.n_rows"), F.lit(0)).alias("n_rows_primary"),
            F.coalesce(F.col("b.n_rows"), F.lit(0)).alias("n_rows_replica"),
            F.col("a.xor_h").alias("xor_primary"),
            F.col("b.xor_h").alias("xor_replica"),
        )
    )


_CK_CANON_SQL = (
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
    "o_orderstatus, CAST(price_cents AS VARCHAR), CAST(o_orderdate AS VARCHAR))"
)

ORACLE_TABLE_CHECKSUM = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
               {_sql_md5int('CAST(o_orderkey AS VARCHAR)')} AS h_key
        FROM orders
    ), replica AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
               CASE WHEN h_key % {_CK_FLIP_MOD} = 0 THEN price_cents + 1
                    ELSE price_cents END AS price_cents,
               h_key
        FROM base WHERE h_key % {_CK_DROP_MOD} <> 0
    ), da AS (
        SELECT h_key % {CHECKSUM_BUCKETS} AS bucket, COUNT(*) AS n_rows,
               bit_xor(row_h) AS xor_h
        FROM (SELECT h_key, {_sql_md5int(_CK_CANON_SQL)} AS row_h FROM base)
        GROUP BY 1
    ), db AS (
        SELECT h_key % {CHECKSUM_BUCKETS} AS bucket, COUNT(*) AS n_rows,
               bit_xor(row_h) AS xor_h
        FROM (SELECT h_key, {_sql_md5int(_CK_CANON_SQL)} AS row_h FROM replica)
        GROUP BY 1
    )
    SELECT COALESCE(da.bucket, db.bucket) AS bucket,
           CAST(COALESCE(da.n_rows, 0) AS BIGINT) AS n_rows_primary,
           CAST(COALESCE(db.n_rows, 0) AS BIGINT) AS n_rows_replica,
           da.xor_h AS xor_primary,
           db.xor_h AS xor_replica
    FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
    WHERE da.n_rows IS DISTINCT FROM db.n_rows
       OR da.xor_h IS DISTINCT FROM db.xor_h
"""


# --------------------------------------------------------------------------
# group_linear_fit — exact-integer per-group OLS trend
# --------------------------------------------------------------------------

def q_group_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend line — revenue drift in
    micro-cents/day per order priority, the segment-trend query behind
    every "is this cohort growing?" dashboard. OLS slope =
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over x = epoch-day of
    o_orderdate, y = price cents.

    Exactness: the four moments accumulate as DECIMAL(38,0) — Σxy is
    cents·days ≈ 10¹² per row and overflows int64 near 10⁷ rows per
    group, exactly the 100 TB regime — and the slope publishes as ONE
    integral division of exact integers, scaled to micro-cents/day.
    Both engines truncate integral division toward zero (verified:
    Spark ``div`` and DuckDB ``//`` agree on negative operands, so a
    declining trend is safe without a sign workaround). The mean point
    (x̄, ȳ) publishes the same way, making the intercept a two-integer
    client-side step.

    Scale shape: ONE map-side-combinable groupBy over a narrow
    two-column projection — the moments are classic algebraic
    aggregates (the reason OLAP cubes store Σx/Σx²/Σxy): partial
    per-partition sums merge associatively, so the plan is a scan plus
    a groups-sized exchange. No window, no join, no second pass."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    m = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    return m.select(
        "grp",
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
            " AS BIGINT)"
        ).alias("slope_microcents_per_day"),
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_x_day"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_y_cents"),
    )


ORACLE_GROUP_LINEAR_FIT = """
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS x,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ), m AS (
        SELECT grp, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x * y AS HUGEINT)) AS sxy,
               SUM(CAST(x * x AS HUGEINT)) AS sxx
        FROM pts GROUP BY grp
    )
    SELECT grp, n,
           CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                AS BIGINT) AS slope_microcents_per_day,
           CAST(sx // n AS BIGINT) AS mean_x_day,
           CAST(sy // n AS BIGINT) AS mean_y_cents
    FROM m
"""


# --------------------------------------------------------------------------
# key_skew_audit — pre-join hot-key diagnosis
# --------------------------------------------------------------------------

SKEW_TOP = 10


def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report — the diagnostic you run BEFORE the big join
    decides between plain shuffle, AQE skew splitting, and explicit
    salting (``salted_join_skew``): per-key frequencies of the probe
    key (events.user_id), the {SKEW_TOP} hottest keys with their exact
    share and cumulative share of all rows in basis points. A key
    carrying ≥5% of a 100 TB shuffle serializes one reducer; this query
    names those keys and what they carry.

    Exactness: shares are integral ``div`` on exact counts (bp), no
    floats anywhere.

    Scale shape: ONE map-side-combinable count per key (output bounded
    by distinct keys), then a global top-{SKEW_TOP} via
    TakeOrderedAndProject; the cumulative-share window runs over the
    {SKEW_TOP} collected rows — a constant-size single partition BY
    CONSTRUCTION (not a data-sized Window.orderBy)."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = (
        counts.orderBy(F.desc("cnt"), "user_id")
        .limit(SKEW_TOP)
        .crossJoin(F.broadcast(total))
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "user_id"))
        .cast("long")
        .alias("rank"),
        "user_id",
        "cnt",
        F.expr("cnt * 10000 div total").alias("share_bp"),
        F.expr("total").alias("total_rows"),
    )
    return ranked.withColumn(
        "cum_share_bp",
        F.sum("share_bp").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


ORACLE_KEY_SKEW = f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), tot AS (
        SELECT SUM(cnt) AS total FROM counts
    ), top AS (
        SELECT user_id, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank
        FROM counts ORDER BY cnt DESC, user_id LIMIT {SKEW_TOP}
    )
    SELECT rank, user_id, cnt,
           CAST(cnt * 10000 // total AS BIGINT) AS share_bp,
           CAST(total AS BIGINT) AS total_rows,
           CAST(SUM(cnt * 10000 // total) OVER (
               ORDER BY rank ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_share_bp
    FROM top CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# join_strategy_advisor — sketch-informed physical-join recommendation
# --------------------------------------------------------------------------

ADVISOR_BROADCAST_MAX_ROWS = 1_000_000
ADVISOR_SKEW_BP = 500  # one key holding >= 5% of probe rows


def q_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a cost-based optimizer does before every join, exposed as a
    query: measure the customer⋈orders join's inputs — build-side rows,
    probe-side rows, probe distinct keys, hottest-key share — and apply
    the standard decision rule (broadcast if the build side fits an
    executor, salt if one key exceeds the skew threshold, else
    sort-merge). Deterministic by construction, so the recommendation
    itself is oracle-checkable — the point is to pin the DECISION
    PROCEDURE this repo's scale notes keep citing (broadcast under
    ~{ADVISOR_BROADCAST_MAX_ROWS} rows, salt past {ADVISOR_SKEW_BP} bp)
    as executable, tested logic instead of prose.

    Scale shape: three combinable aggregates (count, distinct-count,
    max-per-key count) over narrow single-column projections; at 100 TB
    the distinct count swaps to ``hll_distinct_sketch`` and the max-key
    share to ``cm_sketch_topk`` — both already in the registry — with
    the same decision rule on top."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.agg(F.count("*").alias("n_build_rows"))
    probe_counts = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    probe = probe_counts.agg(
        F.sum("cnt").alias("n_probe_rows"),
        F.count("*").alias("probe_distinct_keys"),
        F.max("cnt").alias("max_key_rows"),
    )
    j = build.crossJoin(F.broadcast(probe))
    share = F.expr("max_key_rows * 10000 div n_probe_rows")
    return j.select(
        "n_build_rows",
        F.col("n_probe_rows").cast("long").alias("n_probe_rows"),
        "probe_distinct_keys",
        "max_key_rows",
        share.alias("max_key_share_bp"),
        F.when(
            F.col("n_build_rows") <= ADVISOR_BROADCAST_MAX_ROWS, "broadcast"
        )
        .when(share >= ADVISOR_SKEW_BP, "salted_shuffle")
        .otherwise("sort_merge")
        .alias("recommendation"),
    )


ORACLE_JOIN_ADVISOR = f"""
    WITH build AS (
        SELECT COUNT(*) AS n_build_rows FROM customer
    ), pc AS (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ), probe AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_probe_rows,
               COUNT(*) AS probe_distinct_keys,
               MAX(cnt) AS max_key_rows
        FROM pc
    )
    SELECT n_build_rows, n_probe_rows, probe_distinct_keys, max_key_rows,
           CAST(max_key_rows * 10000 // n_probe_rows AS BIGINT)
               AS max_key_share_bp,
           CASE WHEN n_build_rows <= {ADVISOR_BROADCAST_MAX_ROWS}
                     THEN 'broadcast'
                WHEN max_key_rows * 10000 // n_probe_rows >= {ADVISOR_SKEW_BP}
                     THEN 'salted_shuffle'
                ELSE 'sort_merge' END AS recommendation
    FROM build CROSS JOIN probe
"""


# --------------------------------------------------------------------------
# group_corr — exact-moment Pearson correlation per group
# --------------------------------------------------------------------------

def q_group_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between order date and order value per
    priority segment — the companion to ``group_linear_fit``: same five
    algebraic moments plus Σy², one final float expression. corr =
    (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²)), published in
    micro-units.

    Exactness: moments are DECIMAL(38,0)-exact; the final expression
    casts each exact integer to double and applies √ and ÷ in a fixed
    tree — IEEE sqrt/div are correctly-rounded, so identical inputs
    give identical bits in both engines. The two sqrts multiply AS
    DOUBLES deliberately: d₁·d₂ as integers can reach 10⁴⁶ and
    overflow even decimal(38) — √ first keeps every intermediate in
    range (documented trade, same answer both engines).

    Scale shape: identical to ``group_linear_fit`` — one combinable
    groupBy, no window, no join."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    m = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    return m.select(
        "grp",
        "n",
        F.expr(
            "CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("corr_micro"),
    )


ORACLE_GROUP_CORR = """
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS x,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ), m AS (
        SELECT grp, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x * y AS HUGEINT)) AS sxy,
               SUM(CAST(x * x AS HUGEINT)) AS sxx,
               SUM(CAST(y * y AS HUGEINT)) AS syy
        FROM pts GROUP BY grp
    )
    SELECT grp, n,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                      * 1000000) AS BIGINT) AS corr_micro
    FROM m
"""


# --------------------------------------------------------------------------
# funnel_time_bounded — windowFunnel-style time-constrained conversion
# --------------------------------------------------------------------------

FUNNEL_WINDOW_US = 30 * 60 * 1_000_000  # each step within 30 min of the last


def q_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel (the ClickHouse
    ``windowFunnel`` semantic): view → click within 30 min of the most
    recent view → purchase within 30 min of a qualified click. The
    unbounded funnel (``event_funnel``) answers "did they ever
    convert?"; this answers "did they convert IN SESSION?" — the number
    product analytics actually reports, because a purchase three weeks
    after a click is not that click's conversion.

    Mechanics: one pass per user in time order. A running conditional
    max over a RANGE window (unbounded-preceding to −1 µs) carries the
    latest strictly-earlier view instant; a click qualifies iff that
    carry is within the window. A second identical carry over qualified
    clicks gates purchases. "Exists a qualified step-k−1 event in
    [t−W, t)" ⟺ "latest strictly-earlier qualified instant ≥ t−W", so
    each stage is ONE windowed max, not an inequality join. The RANGE
    frame (not ROWS) makes same-instant events invisible to each other,
    so strict ordering holds under timestamp ties by construction.

    Exactness: all comparisons on integer microseconds.

    Scale shape: ONE user_id shuffle; both carries and the final
    per-user rollup share the same window partitioning (single sort, no
    re-exchange) — the same one-pass discipline as ``event_funnel``,
    with the time bound folded into the carried expression instead of a
    per-stage join."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("t_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("t_us"))
    ).over(w)
    is_qclick = (
        (F.col("event_type") == "click")
        & last_view.isNotNull()
        & (F.col("t_us") - last_view <= FUNNEL_WINDOW_US)
    )
    staged = e.select(
        "user_id",
        "event_type",
        "t_us",
        F.when(is_qclick, F.col("t_us")).alias("qclick_us"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    last_qclick = F.max("qclick_us").over(w2)
    is_qpurchase = (
        (F.col("event_type") == "purchase")
        & last_qclick.isNotNull()
        & (F.col("t_us") - last_qclick <= FUNNEL_WINDOW_US)
    )
    flagged = staged.select(
        "user_id",
        "event_type",
        "qclick_us",
        F.when(is_qpurchase, F.col("t_us")).alias("qpurchase_us"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "n_views"
        ),
        F.count("qclick_us").alias("n_qclicks"),
        F.min("qpurchase_us").alias("first_conv_us"),
        F.max(
            F.when(F.col("qpurchase_us").isNotNull(), 1).otherwise(0)
        ).alias("converted"),
    )


ORACLE_FUNNEL_TIME_BOUNDED = f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
    ), staged AS (
        SELECT user_id, event_type, t_us,
               CASE WHEN event_type = 'click'
                         AND MAX(CASE WHEN event_type = 'view' THEN t_us END)
                             OVER w IS NOT NULL
                         AND t_us - MAX(CASE WHEN event_type = 'view' THEN t_us END)
                             OVER w <= {FUNNEL_WINDOW_US}
                    THEN t_us END AS qclick_us
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), flagged AS (
        SELECT user_id, event_type, qclick_us,
               CASE WHEN event_type = 'purchase'
                         AND MAX(qclick_us) OVER w2 IS NOT NULL
                         AND t_us - MAX(qclick_us) OVER w2 <= {FUNNEL_WINDOW_US}
                    THEN t_us END AS qpurchase_us
        FROM staged
        WINDOW w2 AS (PARTITION BY user_id ORDER BY t_us
                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_views,
           COUNT(qclick_us) AS n_qclicks,
           MIN(qpurchase_us) AS first_conv_us,
           CAST(MAX(CASE WHEN qpurchase_us IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS converted
    FROM flagged GROUP BY user_id
"""


# --------------------------------------------------------------------------
# trimmed_mean — robust per-group aggregate (5% two-sided trim)
# --------------------------------------------------------------------------

TRIM_PCT = 5


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{TRIM_PCT}%-trimmed mean of order value per priority — the robust
    location metric dashboards switch to when a few whale orders drag
    the plain mean: drop the lowest and highest {TRIM_PCT}% of rows per
    group BY RANK, average the rest. Rank-based trim (type-1, floor) is
    exactly reproducible, unlike quantile-threshold trims whose
    interpolation differs per engine.

    Exactness: ranks are integers from a unique total order (cents,
    orderkey tie-break); the trim bounds are integral ``div`` on exact
    counts; the mean publishes as micro-cents via one integral
    division. No floats.

    Scale shape: one groupBy-count joined back (broadcast — group count
    is tiny), one rank window per group, one combinable sum — the same
    single-shuffle discipline as ``group_quantiles_exact``; at extreme
    group sizes the rank window swaps to the prefix-sum scan exactly as
    that query documents."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    sizes = pts.groupBy("grp").agg(F.count("*").alias("n_total"))
    w = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    ranked = (
        pts.withColumn("rnk", F.row_number().over(w))
        .join(F.broadcast(sizes), "grp")
        .withColumn("k", F.expr(f"n_total * {TRIM_PCT} div 100"))
    )
    kept = ranked.filter(
        (F.col("rnk") > F.col("k")) & (F.col("rnk") <= F.col("n_total") - F.col("k"))
    )
    return kept.groupBy("grp").agg(
        F.max("n_total").alias("n_total"),
        F.count("*").alias("n_kept"),
        # Σcents·10⁶ passes 2⁶³ near 10⁷ rows/group — widen before scaling
        F.expr(
            "CAST(CAST(SUM(cents) AS DECIMAL(38,0)) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("trimmed_mean_microcents"),
    )


ORACLE_TRIMMED_MEAN = f"""
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ), ranked AS (
        SELECT grp, cents,
               ROW_NUMBER() OVER (PARTITION BY grp
                                  ORDER BY cents, o_orderkey) AS rnk,
               COUNT(*) OVER (PARTITION BY grp) AS n_total
        FROM pts
    ), kept AS (
        SELECT grp, cents, n_total,
               n_total * {TRIM_PCT} // 100 AS k
        FROM ranked
        WHERE rnk > n_total * {TRIM_PCT} // 100
          AND rnk <= n_total - n_total * {TRIM_PCT} // 100
    )
    SELECT grp, CAST(MAX(n_total) AS BIGINT) AS n_total,
           COUNT(*) AS n_kept,
           CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
               AS trimmed_mean_microcents
    FROM kept GROUP BY grp
"""


# --------------------------------------------------------------------------
# ab_test_summary — deterministic experiment split + welch-style SE
# --------------------------------------------------------------------------

AB_SALT = "exp1_"


def q_ab_test_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B-test readout over the events stream: users split 50/50 by
    the shared md5 hash (salted, so re-salting reruns the experiment),
    the metric is total event value per user, and the output is one row
    per variant with n, mean, variance — plus the treatment-control
    mean difference and its Welch standard error on the variant-1 row,
    everything a z-test needs. Hash-based assignment is THE way to
    randomize at 100 TB: no assignment table, no join — membership
    recomputes anywhere from the user id.

    Exactness: per-user metric sums in integer micro-value-units; n,
    Σx, Σx² per variant in DECIMAL(38,0); mean publishes by integral
    div; the sample variance and Welch SE are fixed-tree doubles over
    exact integers (÷ and √ are correctly-rounded IEEE ops, identical
    both engines).

    Scale shape: one user-level combinable aggregate (the metric), one
    two-row variant aggregate, one broadcast self-join to place the
    difference column — nothing data-sized after the first groupBy."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.expr("CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)").alias(
                "metric_units"
            )
        )
        .select(
            F.expr(
                f"{_MD5INT.format(x=repr(AB_SALT) + ' || CAST(user_id AS STRING)')} % 2"
            ).alias("variant"),
            "metric_units",
        )
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("metric_units").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("metric_units").cast("decimal(38,0)") * F.col("metric_units")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )
    stats = per_variant.select(
        "variant",
        "n_users",
        F.expr("CAST(sx div n_users AS BIGINT)").alias("mean_units"),
        # sample variance: (n·Σx² − (Σx)²) / (n·(n−1)), exact ints → double
        F.expr(
            "CAST(n_users * sxx - sx * sx AS DOUBLE)"
            " / CAST(n_users AS DOUBLE) / CAST(n_users - 1 AS DOUBLE)"
        ).alias("var_units2"),
    )
    a = stats.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n0"),
        F.col("mean_units").alias("mean0"),
        F.col("var_units2").alias("var0"),
    )
    b = stats.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n1"),
        F.col("mean_units").alias("mean1"),
        F.col("var_units2").alias("var1"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n0",
        "n1",
        "mean0",
        "mean1",
        (F.col("mean1") - F.col("mean0")).alias("diff_units"),
        F.expr(
            "CAST(ROUND(sqrt(var0 / CAST(n0 AS DOUBLE)"
            " + var1 / CAST(n1 AS DOUBLE))) AS BIGINT)"
        ).alias("welch_se_units"),
    )


ORACLE_AB_TEST = f"""
    WITH per_user AS (
        SELECT {_sql_md5int(repr(AB_SALT) + " || CAST(user_id AS VARCHAR)")} % 2
                   AS variant,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS metric_units
        FROM events GROUP BY user_id
    ), per_variant AS (
        SELECT variant, COUNT(*) AS n_users,
               SUM(CAST(metric_units AS HUGEINT)) AS sx,
               SUM(CAST(metric_units AS HUGEINT) * metric_units) AS sxx
        FROM per_user GROUP BY variant
    ), stats AS (
        SELECT variant, n_users,
               CAST(sx // n_users AS BIGINT) AS mean_units,
               CAST(n_users * sxx - sx * sx AS DOUBLE)
                   / CAST(n_users AS DOUBLE) / CAST(n_users - 1 AS DOUBLE)
                   AS var_units2
        FROM per_variant
    )
    SELECT a.n_users AS n0, b.n_users AS n1,
           a.mean_units AS mean0, b.mean_units AS mean1,
           b.mean_units - a.mean_units AS diff_units,
           CAST(ROUND(sqrt(b.var_units2 / CAST(b.n_users AS DOUBLE)
                           + a.var_units2 / CAST(a.n_users AS DOUBLE)))
                AS BIGINT) AS welch_se_units
    FROM (SELECT * FROM stats WHERE variant = 0) a
    CROSS JOIN (SELECT * FROM stats WHERE variant = 1) b
"""


# --------------------------------------------------------------------------
# rolling_median_daily — exact trailing-window median per group
# --------------------------------------------------------------------------

ROLL_MED_DAYS = 30


def q_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLL_MED_DAYS}-day median of daily revenue per priority
    — the robust rolling location metric (rolling MEAN is one whale
    away from useless). Median is not an algebraic aggregate, so no
    partial-merge trick exists; the exact rolling form collects the
    window's values per row. That is affordable HERE because the
    windowed relation is the DAILY rollup (≤{ROLL_MED_DAYS} values per
    frame by construction), not the raw fact table — the pre-aggregate
    is what makes exact rolling medians feasible at any scale, and the
    frame bound is the documented memory contract.

    Exactness: type-1 (low) median — element (n+1) div 2 of the sorted
    int64 window, no interpolation, no floats.

    Scale shape: one combinable daily rollup (grp × day rows), then a
    per-group RANGE window over day numbers — partitions are groups, so
    the sort is bounded by days-per-group; the collected frame is
    ≤{ROLL_MED_DAYS} int64s. At 100 TB the daily rollup is the only
    data-sized pass."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("grp", "day_no")
        .agg(F.sum("cents").alias("day_cents"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("day_no")
        .rangeBetween(-(ROLL_MED_DAYS - 1), 0)
    )
    vals = F.sort_array(F.collect_list("day_cents").over(w))
    n = F.size(vals)
    return daily.select(
        "grp",
        "day_no",
        "day_cents",
        n.cast("long").alias("n_days_in_window"),
        F.element_at(vals, ((n + 1) / 2).cast("int")).alias(
            "rolling_median_cents"
        ),
    )


ORACLE_ROLLING_MEDIAN = f"""
    WITH daily AS (
        SELECT o_orderpriority AS grp,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
                   AS day_no,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM orders GROUP BY 1, 2
    ), win AS (
        SELECT grp, day_no, day_cents,
               list_sort(list(day_cents) OVER (
                   PARTITION BY grp ORDER BY day_no
                   RANGE BETWEEN {ROLL_MED_DAYS - 1} PRECEDING AND CURRENT ROW
               )) AS vals
        FROM daily
    )
    SELECT grp, day_no, day_cents,
           CAST(len(vals) AS BIGINT) AS n_days_in_window,
           vals[CAST((len(vals) + 1) // 2 AS INTEGER)] AS rolling_median_cents
    FROM win
"""


# --------------------------------------------------------------------------
# srm_check — sample-ratio-mismatch health check for the A/B split
# --------------------------------------------------------------------------

SRM_CHI2_CRIT_MICRO = 3_841_459  # χ²(1, 0.05) = 3.841459 in micro units


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch — the first thing to check before trusting
    any A/B readout (``ab_test_summary``): under a 50/50 split the unit
    counts must be binomially close; χ² = (n₀−n₁)²/(n₀+n₁) against
    χ²(1) flags a broken assignment (bot filtering, logging loss,
    redirect bias) before it masquerades as a treatment effect.

    Exactness: the statistic is exact integer arithmetic published in
    micro units — (n₀−n₁)²·10⁶ div (n₀+n₁) — compared against the
    hard-coded critical value, so the pass verdict is deterministic.

    Scale shape: one combinable distinct-user count per variant; two
    rows reduced to one."""
    e = load_table(spark, sf_dir, "events")
    pu = e.select(
        F.expr(
            f"{_MD5INT.format(x=repr(AB_SALT) + ' || CAST(user_id AS STRING)')} % 2"
        ).alias("variant"),
        "user_id",
    ).distinct()
    counts = pu.groupBy("variant").agg(F.count("*").alias("n"))
    a = counts.filter(F.col("variant") == 0).select(F.col("n").alias("n0"))
    b = counts.filter(F.col("variant") == 1).select(F.col("n").alias("n1"))
    j = a.crossJoin(F.broadcast(b))
    chi2 = F.expr("(n0 - n1) * (n0 - n1) * 1000000 div (n0 + n1)")
    return j.select(
        "n0",
        "n1",
        chi2.alias("chi2_micro"),
        (chi2 < SRM_CHI2_CRIT_MICRO).alias("split_healthy"),
    )


ORACLE_SRM_CHECK = f"""
    WITH pu AS (
        SELECT DISTINCT
               {_sql_md5int(repr(AB_SALT) + " || CAST(user_id AS VARCHAR)")} % 2
                   AS variant,
               user_id
        FROM events
    ), counts AS (
        SELECT variant, COUNT(*) AS n FROM pu GROUP BY variant
    )
    SELECT a.n AS n0, b.n AS n1,
           CAST((a.n - b.n) * (a.n - b.n) * 1000000 // (a.n + b.n) AS BIGINT)
               AS chi2_micro,
           ((a.n - b.n) * (a.n - b.n) * 1000000 // (a.n + b.n))
               < {SRM_CHI2_CRIT_MICRO} AS split_healthy
    FROM (SELECT n FROM counts WHERE variant = 0) a
    CROSS JOIN (SELECT n FROM counts WHERE variant = 1) b
"""


# --------------------------------------------------------------------------
# cusum_changepoint — drift detection via the prefix-scan identity
# --------------------------------------------------------------------------

def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection over daily event volumes per
    type — the classic statistical-process-control monitor (Page 1954):
    s_t = max(0, s_{t−1} + (x_t − μ − k)) accumulates sustained
    upward drift and ignores isolated spikes. The recurrence looks
    inherently sequential (a nonlinear per-row max), but it has a
    closed form as PURE window aggregates: with S_t the running sum of
    deviations, s_t = S_t − min(0, min_{j≤t} S_j) (the 0 is the empty
    prefix S₀) — so two frames over ONE sort (running sum + running
    min) compute it exactly, no UDF, no iteration, no state. That identity is what makes CUSUM runnable
    over a 100 TB event log as a plain window query.

    Parameters are derived from the data deterministically: μ = mean
    daily count per type (integral div), slack k = μ div 20 (5%),
    alert threshold h = μ (one full average day of cumulated excess).
    All arithmetic is exact integers; the day series is the observed
    days (densify with ``resample_ffill`` upstream if gap days must
    count as zero).

    Scale shape: one combinable daily rollup, a broadcast of the
    per-type μ table (types-sized), then both window functions share
    one (type, day) sort — a single shuffle end to end."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", epoch_us(F.col("ts")).alias("t_us"))
        .select("event_type", F.expr(f"t_us div {_US_PER_DAY}").alias("day_no"))
        .groupBy("event_type", "day_no")
        .agg(F.count("*").alias("x"))
    )
    mu = daily.groupBy("event_type").agg(
        F.expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").alias("mu")
    )
    d = daily.join(F.broadcast(mu), "event_type").withColumn(
        "dev", F.expr("x - mu - (mu div 20)")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = d.withColumn("s_run", F.sum("dev").over(w))
    # the prefix min must include the EMPTY prefix (S_0 = 0), else a
    # series that never dips below zero loses its first deviations —
    # pinned by the recurrence-replay test
    floor0 = F.least(F.lit(0).cast("long"), F.min("s_run").over(w))
    out = run.select(
        "event_type",
        "day_no",
        "x",
        "mu",
        (F.col("s_run") - floor0).alias("cusum"),
        ((F.col("s_run") - floor0) > F.col("mu")).alias("drift_alert"),
    )
    return out


ORACLE_CUSUM = """
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), mu AS (
        SELECT event_type, CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu
        FROM daily GROUP BY event_type
    ), d AS (
        SELECT daily.event_type, day_no, CAST(x AS BIGINT) AS x, mu,
               x - mu - (mu // 20) AS dev
        FROM daily JOIN mu USING (event_type)
    ), run AS (
        SELECT *, SUM(dev) OVER w AS s_run
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY day_no
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, day_no, x, mu,
           CAST(s_run - LEAST(0, MIN(s_run) OVER w) AS BIGINT) AS cusum,
           (s_run - LEAST(0, MIN(s_run) OVER w)) > mu AS drift_alert
    FROM run
    WINDOW w AS (PARTITION BY event_type ORDER BY day_no
                 ROWS UNBOUNDED PRECEDING)
"""


# --------------------------------------------------------------------------
# dow_seasonal_residual — day-of-week baseline and deseasonalized series
# --------------------------------------------------------------------------

def q_dow_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily event volume per
    type — the deseasonalizer in front of any volume monitor: weekday
    patterns (quiet weekends, Monday spikes) trip naive thresholds and
    mask real drift, so ``cusum_changepoint``/``dq_anomaly_mad`` want
    the RESIDUAL x_t − baseline(dow(t)), not the raw series. The
    baseline is the per-(type, day-of-week) mean daily count; both the
    baseline and residual publish per day.

    Exactness: day-of-week from integer day number ((day_no + 3) % 7 —
    1970-01-01 was a Thursday, weekday 3; 0 = Monday both engines), baselines by
    integral div. No date functions whose week conventions could
    disagree across engines.

    Scale shape: one combinable daily rollup, one 7·types-row baseline
    aggregate broadcast back — two tiny aggregates past the rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", epoch_us(F.col("ts")).alias("t_us"))
        .select("event_type", F.expr(f"t_us div {_US_PER_DAY}").alias("day_no"))
        .groupBy("event_type", "day_no")
        .agg(F.count("*").alias("x"))
        .withColumn("dow", F.expr("(day_no + 3) % 7"))
    )
    base = daily.groupBy("event_type", "dow").agg(
        F.expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").alias("dow_mean"),
        F.count("*").alias("n_weeks"),
    )
    return daily.join(F.broadcast(base), ["event_type", "dow"]).select(
        "event_type",
        "day_no",
        "dow",
        "x",
        "dow_mean",
        (F.col("x") - F.col("dow_mean")).alias("residual"),
    )


ORACLE_DOW_SEASONAL = """
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), d2 AS (
        SELECT event_type, day_no, CAST(x AS BIGINT) AS x,
               (day_no + 3) % 7 AS dow
        FROM daily
    ), base AS (
        SELECT event_type, dow,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS dow_mean
        FROM d2 GROUP BY event_type, dow
    )
    SELECT event_type, day_no, dow, x, dow_mean,
           x - dow_mean AS residual
    FROM d2 JOIN base USING (event_type, dow)
"""


# --------------------------------------------------------------------------
# lag_features — supervised-learning feature matrix from the event series
# --------------------------------------------------------------------------

def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecasting feature matrix — what a training-data pipeline
    emits for a demand model: per (type, day) the target x plus lag-1,
    lag-7, trailing-7-day sum and count, and the day-of-week — each an
    exact window over the daily rollup, assembled in ONE pass. Rows
    missing a full history keep NULL lags (the model's imputation
    decision, not the pipeline's).

    Exactness: integer counts, integral day arithmetic; RANGE frames on
    the day number so calendar gaps hold the lag semantics (lag-7 =
    the value exactly 7 days earlier, NOT 7 rows earlier — a ROWS
    frame silently lies on sparse series).

    Scale shape: one combinable rollup, then every feature shares one
    (type, day) sort — windows with the same partitioning and ordering
    compile into a single Window exchange."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", epoch_us(F.col("ts")).alias("t_us"))
        .select("event_type", F.expr(f"t_us div {_US_PER_DAY}").alias("day_no"))
        .groupBy("event_type", "day_no")
        .agg(F.count("*").alias("x"))
    )
    wr = Window.partitionBy("event_type").orderBy("day_no")
    lag1 = F.max(F.col("x")).over(wr.rangeBetween(-1, -1))
    lag7 = F.max(F.col("x")).over(wr.rangeBetween(-7, -7))
    trail7_sum = F.sum("x").over(wr.rangeBetween(-7, -1))
    trail7_n = F.count("x").over(wr.rangeBetween(-7, -1))
    return daily.select(
        "event_type",
        "day_no",
        "x",
        lag1.alias("lag1"),
        lag7.alias("lag7"),
        trail7_sum.alias("trail7_sum"),
        trail7_n.alias("trail7_days"),
        F.expr("(day_no + 3) % 7").alias("dow"),
    )


ORACLE_LAG_FEATURES = """
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_no, x,
           MAX(x) OVER (PARTITION BY event_type ORDER BY day_no
                        RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1,
           MAX(x) OVER (PARTITION BY event_type ORDER BY day_no
                        RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7,
           CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day_no
                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS trail7_sum,
           COUNT(x) OVER (PARTITION BY event_type ORDER BY day_no
                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS trail7_days,
           (day_no + 3) % 7 AS dow
    FROM daily
"""


QUERIES = {
    "scd2_history": q_scd2_history,
    "event_funnel": q_event_funnel,
    "retention_cohorts": q_retention_cohorts,
    "bloom_prefilter_join": q_bloom_prefilter_join,
    "scd2_asof_lookup": q_scd2_asof_lookup,
    "cm_sketch_topk": q_cm_sketch_topk,
    "zorder_layout_audit": q_zorder_layout_audit,
    "scd2_incremental": q_scd2_incremental,
    "dq_profile": q_dq_profile,
    "pareto_frontier_2d": q_pareto_frontier_2d,
    "resample_ffill": q_resample_ffill,
    "incremental_agg_merge": q_incremental_agg_merge,
    "rolling_distinct_users": q_rolling_distinct_users,
    "event_transition_matrix": q_event_transition_matrix,
    "attribution_last_touch": q_attribution_last_touch,
    "dq_anomaly_mad": q_dq_anomaly_mad,
    "group_quantiles_exact": q_group_quantiles_exact,
    "bom_rollup": q_bom_rollup,
    "scd2_time_weighted": q_scd2_time_weighted,
    "interval_concurrency": q_interval_concurrency,
    "cdc_apply": q_cdc_apply,
    "table_checksum_blocks": q_table_checksum_blocks,
    "group_linear_fit": q_group_linear_fit,
    "key_skew_audit": q_key_skew_audit,
    "join_strategy_advisor": q_join_strategy_advisor,
    "group_corr": q_group_corr,
    "funnel_time_bounded": q_funnel_time_bounded,
    "trimmed_mean": q_trimmed_mean,
    "ab_test_summary": q_ab_test_summary,
    "rolling_median_daily": q_rolling_median_daily,
    "srm_check": q_srm_check,
    "cusum_changepoint": q_cusum_changepoint,
    "dow_seasonal_residual": q_dow_seasonal_residual,
    "lag_features": q_lag_features,
}

ORACLE = {
    "scd2_history": ORACLE_SCD2_HISTORY,
    "event_funnel": ORACLE_EVENT_FUNNEL,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "bloom_prefilter_join": ORACLE_BLOOM_PREFILTER,
    "scd2_asof_lookup": ORACLE_SCD2_ASOF,
    "cm_sketch_topk": ORACLE_CM_SKETCH,
    "zorder_layout_audit": ORACLE_ZORDER,
    "scd2_incremental": ORACLE_SCD2_INCREMENTAL,
    "dq_profile": ORACLE_DQ_PROFILE,
    "pareto_frontier_2d": ORACLE_PARETO,
    "resample_ffill": ORACLE_RESAMPLE_FFILL,
    "incremental_agg_merge": ORACLE_INCREMENTAL_AGG_MERGE,
    "rolling_distinct_users": ORACLE_ROLLING_DISTINCT,
    "event_transition_matrix": ORACLE_EVENT_TRANSITIONS,
    "attribution_last_touch": ORACLE_ATTRIBUTION,
    "dq_anomaly_mad": ORACLE_DQ_ANOMALY_MAD,
    "group_quantiles_exact": ORACLE_GROUP_QUANTILES,
    "bom_rollup": ORACLE_BOM_ROLLUP,
    "scd2_time_weighted": ORACLE_SCD2_TWA,
    "interval_concurrency": ORACLE_INTERVAL_CONCURRENCY,
    "cdc_apply": ORACLE_CDC_APPLY,
    "table_checksum_blocks": ORACLE_TABLE_CHECKSUM,
    "group_linear_fit": ORACLE_GROUP_LINEAR_FIT,
    "key_skew_audit": ORACLE_KEY_SKEW,
    "join_strategy_advisor": ORACLE_JOIN_ADVISOR,
    "group_corr": ORACLE_GROUP_CORR,
    "funnel_time_bounded": ORACLE_FUNNEL_TIME_BOUNDED,
    "trimmed_mean": ORACLE_TRIMMED_MEAN,
    "ab_test_summary": ORACLE_AB_TEST,
    "rolling_median_daily": ORACLE_ROLLING_MEDIAN,
    "srm_check": ORACLE_SRM_CHECK,
    "cusum_changepoint": ORACLE_CUSUM,
    "dow_seasonal_residual": ORACLE_DOW_SEASONAL,
    "lag_features": ORACLE_LAG_FEATURES,
}
