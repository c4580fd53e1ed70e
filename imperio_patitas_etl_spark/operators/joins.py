"""Join operators (J1-J8, SURVEY.md §2.4).

The reference does joins procedurally — per-row HTTP lookups (the N+1
pattern at etl_service.py:589,600) and nested-loop flattening. Here every
lookup is a real Spark join: small dimensions broadcast (no shuffle of the
fact side), explodes are ``posexplode`` so ordinal semantics ("first
variant", etl_service.py:624) stay deterministic (SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.functions.cleaning import epoch_us


def explode_nested(
    df: DataFrame,
    array_col: str,
    alias: str,
    keep_empty: bool = False,
    with_pos: bool = True,
) -> DataFrame:
    """J1/J5: lateral unnest of an array<struct> column.

    - inner explode (default): rows with empty/NULL arrays are dropped —
      products with zero variants vanish (etl_service.py:571-575).
    - ``keep_empty=True``: outer explode — document headers survive with
      zero detail lines (etl_service.py:687-694).
    - ``with_pos``: emits the array ordinal so "first element wins" logic
      (A6) is deterministic.
    """
    fn = F.posexplode_outer if keep_empty else F.posexplode
    if not with_pos:
        fn = F.explode_outer if keep_empty else F.explode
        return df.select("*", fn(array_col).alias(alias)).drop(array_col)
    return df.select("*", fn(array_col).alias(f"{alias}_pos", alias)).drop(array_col)


def broadcast_lookup(
    facts: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """J2/J3: replace an N+1 per-row fetch with a broadcast hash join.

    The reference fetched price (inner semantics — no price row ⇒ product
    dropped, etl_service.py:589-597) and cost (left semantics, :600-602)
    once per variant over HTTP. A broadcast join ships the small dimension
    to every executor: zero shuffle of the fact side, which is what keeps
    this linear at 100 TB.
    """
    return facts.join(F.broadcast(dim), on=on, how=how)


def derive_cost(
    df: DataFrame,
    history_col: str = "history",
    avg_cost_col: str = "averageCost",
    price_col: str = "precio_neto",
    out_col: str = "costo_neto",
) -> DataFrame:
    """J4 + A1: conditional cost derivation (etl_service.py:604-616).

    If any history entry has cost > 0 → use averageCost; else if price is
    valid → price × 0.65; else NULL (row then fails validation F2).
    ``F.exists`` is a higher-order array function — no explode, no shuffle.
    """
    has_real_cost = F.coalesce(
        F.exists(F.col(history_col), lambda h: h["cost"] > 0), F.lit(False)
    )
    price_ok = F.col(price_col).isNotNull() & (F.col(price_col) > 0)
    return df.withColumn(
        out_col,
        F.when(has_real_cost, F.col(avg_cost_col).cast("double"))
        .when(price_ok, F.round(F.col(price_col) * 0.65, 6))
        .otherwise(F.lit(None).cast("double")),
    )


def fk_orphan_report(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """J8: the reference skips FK validation (etl_service.py:667-670); the
    engine surfaces dangling FKs as a data-quality report via anti-join."""
    return child.join(parent.select(F.col(pk).alias(fk)).distinct(), on=fk, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of (backward) join: for every left row, the most recent right row
    with ``right.ts <= left.ts`` within the same key — the standard
    point-in-time lookup for feature stores and event-state reconstruction.

    Spark has no native ASOF JOIN; the composition here is union + window
    (last non-null value over an ordered frame), which costs exactly ONE
    shuffle on (key) and no range self-join — the O(n·m) inequality-join
    trap at 100 TB. Right rows sort before left rows at equal timestamps,
    so a right row at the same instant is visible (>= semantics, matching
    DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts`` which oracles this op).

    The carried payload is ONE STRUCT of all value columns, not per-column
    ``last(..., ignorenulls=True)``: the struct is non-null for every right
    row even when its fields are NULL, so the most recent match wins and
    its NULLs are preserved (per-column last would leak an older row's
    value through a newer row's NULL). Right rows tying on (key, ts) are
    additionally ordered by the value struct, making the winner (the
    greatest payload) deterministic.
    """
    l_tag = left.withColumn("_is_left", F.lit(1))
    for c in value_cols:
        if c not in left.columns:
            l_tag = l_tag.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    r_tag = right.select(
        key, ts, *value_cols, F.lit(0).alias("_is_left")
    )
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l_tag.unionByName(r_tag).withColumn(
        "_rvals",
        F.when(F.col("_is_left") == 0, F.struct(*[F.col(c) for c in value_cols])),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_left").asc(), F.col("_rvals").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_match = F.last("_rvals", ignorenulls=True).over(w)
    out = unioned.select(
        *left.columns,
        "_is_left",
        *[last_match.getField(c).alias(f"asof_{c}") for c in value_cols],
    )
    return out.filter(F.col("_is_left") == 1).drop("_is_left")


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_micros: int = 600_000_000,
) -> DataFrame:
    """Point-in-interval join (point ∈ [start, end)) without the O(n·m)
    inequality-join trap.

    A naive ``p.ts >= i.start AND p.ts < i.end`` join has no equi-key, so
    Spark falls back to a broadcast nested-loop — quadratic and undoable at
    100 TB. Binning gives it one: both sides map to fixed-width time bins
    (intervals explode to every bin they overlap), the join becomes an
    equi-join on (key, bin), and the exact range predicate filters the few
    in-bin false positives. Shuffle volume is bounded by bin width — pick
    it near the typical interval length so intervals explode to O(1) bins.
    Timestamps are compared in exact integer microseconds; the epoch
    columns are MATERIALIZED once per input row before the join — the
    naive form re-evaluates the (comparatively expensive) timestamp→epoch
    conversion four times per joined-pair row, i.e. once per comparison
    operand, and joined pairs outnumber input rows.
    """
    p = points.withColumn("_p_us", epoch_us(point_ts)).withColumn(
        "_bin", F.floor(F.col("_p_us") / bin_micros)
    )
    i = intervals.withColumn("_s_us", epoch_us(start_ts)).withColumn(
        "_e_us", epoch_us(end_ts)
    )
    i = i.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("_s_us") / bin_micros),
                F.floor((F.col("_e_us") - 1) / bin_micros),
            )
        ),
    )
    out = p.join(i, on=[key, "_bin"]).filter(
        (F.col("_p_us") >= F.col("_s_us")) & (F.col("_p_us") < F.col("_e_us"))
    )
    # an interval spanning k bins meets an in-range point in exactly one
    # bin (the point's own), so no pair-dedup is needed
    return out.drop("_bin", "_p_us", "_s_us", "_e_us")


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot key over ``n_salts``
    shuffle partitions.

    When one key holds a disproportionate share of the fact rows, a plain
    shuffle join puts that whole key in one task — the straggler that
    dominates wall-clock at 100 TB. Salting splits it: facts get a
    deterministic per-row salt (hash of all columns, so no ordering or
    row-id dependency), the dim side is replicated ``n_salts``× with every
    salt value, and the join key becomes (key, salt). Result rows are
    identical to the unsalted join (verified by test); cost is dim×salts
    replication, so use it when the dim is too big to broadcast but far
    smaller than the fact table. AQE's skew-join handles moderate skew
    automatically (session.py enables it); explicit salting is for the
    pathological keys AQE's split thresholds miss.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(n_salts))
    f = facts.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = f.join(d, on=[key, "_salt"], how=how)
    return out.drop("_salt")
