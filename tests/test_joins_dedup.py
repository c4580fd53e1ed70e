"""Join + dedup operator unit tests (J1-J8, A5/A6): explode inner/outer
semantics, broadcast lookups, cost-derivation branches, FK orphan report,
deterministic first-wins dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.dedup import dedup_first_wins, top_k_per_group
from imperio_patitas_etl_spark.operators.joins import (
    broadcast_lookup,
    derive_cost,
    explode_nested,
    fk_orphan_report,
)


def _nested(spark):
    return spark.createDataFrame(
        [
            (1, [{"vid": 10}, {"vid": 11}]),
            (2, []),
            (3, None),
        ],
        "pid int, variants array<struct<vid:int>>",
    )


def test_explode_inner_drops_empty(spark):
    out = explode_nested(_nested(spark), "variants", "v")
    rows = [(r["pid"], r["v_pos"], r["v"]["vid"]) for r in out.collect()]
    assert sorted(rows) == [(1, 0, 10), (1, 1, 11)]


def test_explode_outer_keeps_empty(spark):
    out = explode_nested(_nested(spark), "variants", "v", keep_empty=True)
    assert out.count() == 4  # pid 2 and 3 survive with NULL v


def test_broadcast_lookup_inner_drops_unmatched(spark):
    facts = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "k int, d string")
    out = broadcast_lookup(facts, dim, "k")
    assert [(r["k"], r["d"]) for r in out.collect()] == [(1, "a")]


def test_derive_cost_branches(spark):
    df = spark.createDataFrame(
        [
            # has positive history cost → averageCost
            (1, [{"cost": 5.0}], 7.0, 100.0),
            # all history zero → price * 0.65
            (2, [{"cost": 0.0}], 7.0, 100.0),
            # no history, invalid price → NULL
            (3, None, 7.0, None),
            (4, [], 7.0, 0.0),
        ],
        "id int, history array<struct<cost:double>>, averageCost double, precio_neto double",
    )
    out = {r["id"]: r["costo_neto"] for r in derive_cost(df).collect()}
    assert out == {1: 7.0, 2: 65.0, 3: None, 4: None}


def test_fk_orphan_report(spark):
    child = spark.createDataFrame([(1, 100), (2, 999)], "id int, fk int")
    parent = spark.createDataFrame([(100,)], "pk int")
    out = fk_orphan_report(child, parent, "fk", "pk")
    assert [r["id"] for r in out.collect()] == [2]


def test_asof_join_semantics(spark):
    from imperio_patitas_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3"), (3, 10, "p4"),
         (4, 10, "p5"), (5, 10, "p6")],
        "k int, ts long, id string",
    )
    right = spark.createDataFrame(
        [(1, 90, 9.0), (1, 150, 15.0), (1, 200, 20.0), (2, 60, 6.0),
         # key 4: the MOST RECENT match carries NULL — it must win with its
         # NULL, not let ts=5's 7.0 leak through (per-column ignorenulls bug)
         (4, 5, 7.0), (4, 8, None),
         # key 5: two right rows tie on ts → deterministic winner (greatest)
         (5, 10, 1.0), (5, 10, 2.0)],
        "k int, ts long, v double",
    )
    out = {
        r["id"]: r["asof_v"]
        for r in asof_join(left, right, key="k", ts="ts", value_cols=["v"]).collect()
    }
    assert out == {
        "p1": 9.0,    # latest right with ts <= 100
        "p2": 20.0,   # tie at ts=200 counts (>= semantics)
        "p3": None,   # right row is later (60 > 50)
        "p4": None,   # no right rows for key 3
        "p5": None,   # most recent match (ts=8) is NULL — preserved
        "p6": 2.0,    # equal-ts right rows: greatest payload wins
    }


def test_range_join_binned_semantics(spark):
    from datetime import datetime

    from imperio_patitas_etl_spark.operators.joins import range_join_binned

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    points = spark.createDataFrame(
        [
            (1, t(10), "at_start"),      # == start → included
            (1, t(14), "inside"),
            (1, t(15), "at_end"),        # == end → excluded
            (1, t(3), "before"),
            (2, t(12), "other_key"),     # in range but key 2 has no interval
        ],
        "k int, ts timestamp, pid string",
    )
    intervals = spark.createDataFrame(
        [(1, t(10), t(15), "iv1")], "k int, s timestamp, e timestamp, iid string"
    )
    # 1-second bins: the 5-second interval explodes across 5+ bins; each
    # in-range point must still appear exactly once
    out = range_join_binned(
        points, intervals, key="k", point_ts="ts", start_ts="s", end_ts="e",
        bin_micros=1_000_000,
    )
    got = sorted(r["pid"] for r in out.collect())
    assert got == ["at_start", "inside"]


def test_dedup_first_wins_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 2, "b"), (1, 1, "a"), (2, 5, "z")], "k int, pos int, v string"
    )
    out = dedup_first_wins(df, "k", [F.col("pos")])
    assert {r["k"]: r["v"] for r in out.collect()} == {1: "a", 2: "z"}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(1, i, f"v{i}") for i in range(5)] + [(2, 0, "w")], "k int, pos int, v string"
    )
    out = top_k_per_group(df, "k", [F.col("pos")], k=2)
    got = sorted((r["k"], r["v"]) for r in out.collect())
    assert got == [(1, "v0"), (1, "v1"), (2, "w")]
