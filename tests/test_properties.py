"""Property-based invariants (SURVEY.md §5.4) over random row sets:

- upsert never yields duplicate keys, and is idempotent — also when
  either side repeats a key, with or without a column-subset update;
- validation partitions the input (accepted + rejected = input, and every
  rejected row violates at least one declared rule);
- delete+insert and latest-wins upsert agree on full-row sources.

Few examples, tiny frames — each example round-trips through Spark.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.upsert import delete_insert, upsert_latest_wins
from imperio_patitas_etl_spark.operators.validate import EntitySpec, Rule

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

row = st.tuples(
    st.integers(min_value=0, max_value=9),          # key (collisions likely)
    st.integers(min_value=-5, max_value=5),         # value
    st.sampled_from(["a", "b", ""]),                # name
)
rows = st.lists(row, min_size=0, max_size=12)


def _df(spark, data):
    return spark.createDataFrame(data, "k int, v int, name string") if data else (
        spark.createDataFrame([], "k int, v int, name string")
    )


@_settings
@given(target=rows, source=rows)
def test_upsert_no_dup_keys_and_idempotent(spark, target, source):
    # upsert requires unique keys per side (MERGE precondition): dedup inputs
    t = _df(spark, target).dropDuplicates(["k"])
    s = _df(spark, source).dropDuplicates(["k"])
    out = upsert_latest_wins(t, s, "k")
    keys = [r["k"] for r in out.select("k").collect()]
    assert len(keys) == len(set(keys))
    assert set(keys) == {r[0] for r in target} | {r[0] for r in source}
    again = upsert_latest_wins(out, s, "k")
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


@_settings
@given(target=rows, source=rows, update_cols=st.sampled_from([None, ["v"]]))
def test_upsert_repeated_keys_keep_one_row_and_rerun_stably(
    spark, target, source, update_cols
):
    # no dedup: either side may repeat a key, with different values
    t, s = _df(spark, target), _df(spark, source)
    out = upsert_latest_wins(t, s, "k", update_cols)
    keys = [r["k"] for r in out.select("k").collect()]
    assert len(keys) == len(set(keys))
    assert set(keys) == {r[0] for r in target} | {r[0] for r in source}
    again = upsert_latest_wins(out, s, "k", update_cols)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


@_settings
@given(target=rows, source=rows)
def test_delete_insert_equals_upsert(spark, target, source):
    t = _df(spark, target).dropDuplicates(["k"])
    s = _df(spark, source).dropDuplicates(["k"])
    a = sorted(map(tuple, upsert_latest_wins(t, s, "k").collect()))
    b = sorted(map(tuple, delete_insert(t, s, "k").collect()))
    assert a == b


@_settings
@given(data=rows)
def test_validation_partitions_input(spark, data):
    spec = EntitySpec(
        name="p",
        rules=[
            Rule("nonneg", F.col("v") >= 0),
            Rule("named", F.length("name") > 0),
        ],
        projection={"k": F.col("k"), "v": F.col("v")},
    )
    df = _df(spark, data)
    res = spec.apply(df)
    n_acc, n_rej = res.accepted.count(), res.rejected.count()
    assert n_acc + n_rej == df.count()
    # every rejected row violates ≥1 declared rule, and carries its reason
    for r in res.rejected.collect():
        assert r["v"] < 0 or len(r["name"]) == 0
        assert r["reject_reason"] in ("nonneg", "named")
    # every accepted row satisfies all rules
    for r in res.accepted.collect():
        assert r["v"] >= 0


# ---------------------------------------------------------------------------
# SCD2: fold(apply, batches) == rebuild, for ANY date-respecting split
# ---------------------------------------------------------------------------

_order = st.tuples(
    st.integers(min_value=0, max_value=3),     # custkey (collisions likely)
    st.integers(min_value=0, max_value=9),     # day number -> orderdate
    st.sampled_from(["1-URGENT", "3-MEDIUM"]),
    st.integers(min_value=1, max_value=999),   # price units
)
_orders = st.lists(_order, min_size=1, max_size=14)


def _orders_df(spark, data):
    rows = [
        (i, k, f"2024-01-{d + 1:02d} 00:00:00", p, float(c))
        for i, (k, d, p, c) in enumerate(data)
    ]
    return (
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderdate string, "
            "o_orderpriority string, o_totalprice double",
        )
        .withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    )


@_settings
@given(data=_orders, cuts=st.sets(st.integers(min_value=1, max_value=9), max_size=3))
def test_scd2_fold_equals_rebuild(spark, data, cuts):
    """Applying the change feed as ANY sequence of date-contiguous
    batches reproduces the batch rebuild exactly — the invariant behind
    both scd2_incremental and the streaming foreachBatch sink, checked
    here over random feeds and random split points (splits fall between
    distinct days, the precondition scd2_apply documents)."""
    from imperio_patitas_etl_spark.operators.scd2 import (
        SCD2_COLS,
        scd2_apply,
        scd2_from_orders,
    )

    o = _orders_df(spark, data)
    bounds = sorted(cuts) + [100]
    lo = -1
    history = None
    for b in bounds:
        batch = o.filter(
            (F.dayofmonth("o_orderdate") > lo + 1)
            & (F.dayofmonth("o_orderdate") <= b + 1)
        )
        lo = b
        if batch.isEmpty():
            continue
        history = (
            scd2_from_orders(batch)
            if history is None
            else scd2_apply(history, batch)
        )
    assert history is not None
    got = sorted(map(tuple, history.select(*SCD2_COLS).collect()))
    want = sorted(map(tuple, scd2_from_orders(o).select(*SCD2_COLS).collect()))
    assert got == want


# ---------------------------------------------------------------- prefix sum

_ps_row = st.tuples(
    st.sampled_from(["s0", "s1", "s2"]),             # stratum (few, skewed)
    st.integers(min_value=0, max_value=50),          # order key (dups pruned)
    st.integers(min_value=-100, max_value=100),      # value (negatives too)
)
_ps_rows = st.lists(_ps_row, min_size=0, max_size=24)


@_settings
@given(data=_ps_rows, nparts=st.sampled_from([1, 3, 8]))
def test_prefix_sum_equals_window_cumsum_property(spark, data, nparts):
    """For ANY stratum distribution, value signs, and partition count,
    the two-phase scan equals the Window running sum — including empty
    input, single-row strata, and every stratum crammed into one range
    partition."""
    from pyspark.sql.window import Window

    from imperio_patitas_etl_spark.operators.prefix_sum import (
        partitioned_prefix_sum,
    )

    # unique (stratum, k) so the prefix order is total
    seen = set()
    uniq = []
    for s, k, v in data:
        if (s, k) not in seen:
            seen.add((s, k))
            uniq.append((s, k, v))
    df = (
        spark.createDataFrame(uniq, "s string, k long, v long")
        if uniq
        else spark.createDataFrame([], "s string, k long, v long")
    )
    got = partitioned_prefix_sum(df, "s", ["k"], "v", "cum", nparts)
    w = (
        Window.partitionBy("s")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------------------------
# Cross-engine money-rounding parity (r15): the driver's oracle gate
# hash-compares floats BIT-EXACTLY, so round2_exact / sum2_exact /
# avg2_exact and their sql_* DuckDB twins must agree on EVERY input —
# including the half-cent ties double round() gets wrong. Pin all three
# against DuckDB AND a Decimal half-up reference over random 4-decimal
# values. Domain is non-negative by contract (money amounts/prices —
# the integer `%`-based half-up form is floor-like only for x >= 0,
# and every call site feeds non-negative products).

_cents4 = st.lists(
    st.integers(min_value=0, max_value=10**8),  # exact 4-decimal units
    min_size=1,
    max_size=20,
)


def _duck_scalar(sql_expr: str, vals4: list[int]):
    import duckdb
    import pandas as pd

    rel = pd.DataFrame(
        {"i": range(len(vals4)), "v": [x / 10000.0 for x in vals4]}
    )
    con = duckdb.connect()
    con.register("t", rel)
    out = con.execute(f"SELECT {sql_expr} AS r FROM t").fetchone()[0]
    con.close()
    return out


@_settings
@given(vals4=_cents4)
def test_round2_exact_matches_duckdb_and_decimal(spark, vals4):
    from decimal import ROUND_HALF_UP, Decimal

    from imperio_patitas_etl_spark.functions import cleaning as c

    df = spark.createDataFrame([(x / 10000.0,) for x in vals4], "v double")
    got = [r[0] for r in df.select(c.round2_exact(F.col("v"))).collect()]
    # Decimal reference: units of 1e-4 -> half-up to cents -> dollars
    want = [
        float(
            (Decimal(x) / 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
            / 100
        )
        for x in vals4
    ]
    assert got == want
    duck = _duck_scalar(
        "list(" + c.sql_round2_exact("v") + " ORDER BY i)", vals4
    )
    assert [float(d) for d in duck] == want


@_settings
@given(vals4=_cents4)
def test_sum2_exact_matches_duckdb_and_decimal(spark, vals4):
    from decimal import ROUND_HALF_UP, Decimal

    from imperio_patitas_etl_spark.functions import cleaning as c

    df = spark.createDataFrame([(x / 10000.0,) for x in vals4], "v double")
    got = df.agg(c.sum2_exact(F.col("v")).alias("s")).collect()[0][0]
    want = float(
        (Decimal(sum(vals4)) / 100).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
        / 100
    )
    assert got == want
    duck = _duck_scalar(c.sql_sum2_exact("v"), vals4)
    assert float(duck) == want


@_settings
@given(cents=st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=20))
def test_avg2_exact_matches_duckdb_and_decimal(spark, cents):
    from decimal import ROUND_HALF_UP, Decimal

    from imperio_patitas_etl_spark.functions import cleaning as c

    df = spark.createDataFrame([(x / 100.0,) for x in cents], "v double")
    got = df.agg(
        c.avg2_exact(F.sum("v"), F.count("v")).alias("a")
    ).collect()[0][0]
    want = float(
        (Decimal(sum(cents)) / len(cents)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
        / 100
    )
    assert got == want
    duck = _duck_scalar(
        c.sql_avg2_exact("SUM(v)", "COUNT(v)"), [x * 100 for x in cents]
    )
    assert float(duck) == want


# --- shingle-set fingerprint injectivity (r17 collapse key) ----------------

#: token alphabet chosen to attack every naive encoding: the netstring
#: delimiter ':', the empty token, digit prefixes (attack the decimal
#: length field), multi-char tokens that concatenate into each other
_tok = st.sampled_from(["", ":", "a", "b", "ab", "a:b", "1", "1:", "12", ":a"])
_shingle_sets = st.lists(st.lists(_tok, max_size=4), min_size=1, max_size=8)


@_settings
@given(sets=_shingle_sets)
def test_shingle_fingerprint_groups_equal_exact_set_groups(spark, sets):
    """``_shingle_set_fp`` equality must coincide EXACTLY with sorted-
    array equality over random adversarial token sets — both directions:
    same set ⇒ same fp (soundness of the collapse) and different set ⇒
    different fp (no spurious jaccard-10000 cliques). The encoding layer
    is injective by construction (netstring); this pins the
    implementation against regressions (e.g. someone 'simplifying' the
    length prefix away)."""
    from imperio_patitas_etl_spark.queries.text import _shingle_set_fp

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sets)],
        "i long, shingles array<string>",
    )
    fps = {
        r["i"]: bytes(r["fp"])
        for r in df.select("i", _shingle_set_fp("shingles").alias("fp")).collect()
    }
    for i, a in enumerate(sets):
        for j, b in enumerate(sets):
            same_set = sorted(a) == sorted(b)
            assert (fps[i] == fps[j]) == same_set, (a, b)
