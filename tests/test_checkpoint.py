"""Checkpoint release by handle and by plan (operators/checkpoint.py).

``release`` frees exactly the blocks a checkpointed frame names, and the
iterative operators free every superseded round with it: after a key is
built and consumed, the only persisted RDDs left are the checkpoints its
returned plan reads, which ``release_plan`` frees.
"""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.operators.checkpoint import (
    persistent_rdd_ids,
    release,
    release_plan,
)


def test_release_frees_only_the_named_checkpoint(spark):
    before = persistent_rdd_ids(spark)
    a = spark.range(10).localCheckpoint()
    a_ids = persistent_rdd_ids(spark) - before
    b = spark.range(20).localCheckpoint()
    b_ids = persistent_rdd_ids(spark) - before - a_ids
    assert len(a_ids) == 1 and len(b_ids) == 1
    release(a)
    assert persistent_rdd_ids(spark) - before == b_ids
    assert b.count() == 20
    release(b)
    assert not persistent_rdd_ids(spark) - before


@pytest.mark.parametrize(
    "make",
    [
        lambda ck, spark: ck.filter("id > 3"),
        lambda ck, spark: ck.select("id"),
        lambda ck, spark: spark.range(3),
        lambda ck, spark: spark.createDataFrame([(1,)], "x int"),
    ],
    ids=["filter", "select", "range", "createDataFrame"],
)
def test_release_rejects_a_frame_that_is_not_a_checkpoint(spark, make):
    ck = spark.range(10).localCheckpoint()
    try:
        with pytest.raises(ValueError):
            release(make(ck, spark))
        assert ck.count() == 10
    finally:
        release(ck)


@pytest.mark.parametrize(
    "combine",
    [
        lambda a, b, spark: a.filter("id > 3").join(b, "id"),
        lambda a, b, spark: a.union(b).filter("id % 2 = 0"),
        lambda a, b, spark: spark.sql(
            "SELECT id FROM {a} WHERE id < (SELECT max(id) FROM {b})", a=a, b=b
        ),
    ],
    ids=["filter_join", "union", "scalar_subquery"],
)
def test_release_plan_frees_every_checkpoint_the_plan_reads(spark, combine):
    before = persistent_rdd_ids(spark)
    a = spark.range(10).localCheckpoint()
    b = spark.range(5).localCheckpoint()
    df = combine(a, b, spark)
    df.collect()
    left = persistent_rdd_ids(spark) - before
    assert len(left) == 2
    assert release_plan(df) == left
    assert not persistent_rdd_ids(spark) - before


def test_release_plan_skips_a_plain_rdd_leaf(spark):
    rows = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,), (2,)]), "x long"
    )
    ck = spark.range(3).localCheckpoint()
    ck_id = ck._jdf.queryExecution().logical().rdd().id()
    assert release_plan(rows) == set()
    assert release_plan(rows.crossJoin(ck)) == {ck_id}
    assert rows.count() == 2


def test_release_plan_leaves_an_unrelated_checkpoint_readable(spark):
    before = persistent_rdd_ids(spark)
    a = spark.range(10).localCheckpoint()
    a_ids = persistent_rdd_ids(spark) - before
    b = spark.range(20).localCheckpoint()
    release_plan(b.filter("id > 3"))
    assert persistent_rdd_ids(spark) - before == a_ids
    assert a.count() == 10
    release(a)


#: key → checkpoints left after the call, all of them read by its
#: returned plan. ngram: member map + rep groups; dup_clusters and
#: corpus_keep_list: member map (CC's driver labels are a local frame,
#: and the rep-pair edge checkpoint is freed in the query); the star key
#: also keeps its fixpoint edges; embedding clusters: nothing (driver
#: labels, the pair list freed in the query); khop: final visited set. A
#: superseded loop round, a transient build checkpoint or an edge
#: checkpoint that leaked would be left without being read.
LEFT_BEHIND = {
    "ngram_jaccard_dedup": 2,
    "dup_clusters": 1,
    "dup_clusters_star": 2,
    "corpus_keep_list": 1,
    "embedding_dup_clusters": 0,
    "khop_reach": 1,
}


@pytest.mark.parametrize("key", sorted(LEFT_BEHIND))
def test_iterative_keys_free_superseded_checkpoints(spark, sf_dir, key):
    from imperio_patitas_etl_spark.queries import all_queries

    before = persistent_rdd_ids(spark)
    df = all_queries()[key](spark, sf_dir)
    df.count()
    left = persistent_rdd_ids(spark) - before
    read = release_plan(df)
    assert left == read and len(read) == LEFT_BEHIND[key], (
        sorted(read),
        sorted(left),
    )
    assert not persistent_rdd_ids(spark) - before
