"""Checkpoint release by handle (operators/checkpoint.py).

``release`` frees exactly the blocks a checkpointed frame names, and the
iterative operators free every superseded round with it: after a key is
built and consumed, the only persisted RDDs left are the checkpoints its
returned plan reads.
"""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.operators.checkpoint import (
    persistent_rdd_ids,
    release,
    release_rdds,
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


def _checkpoints_read(df) -> set[int]:
    """RDD ids of the checkpoint leaves in ``df``'s logical plan."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


#: key → (checkpoints its returned plan reads, persisted RDDs left after
#: the call). ngram: member map + rep groups; dup_clusters and
#: corpus_keep_list: member map + final labels, plus the rep-pair edge
#: checkpoint; the star key's plan reads its rep pairs through the
#: endpoint seed; embedding clusters: final labels, plus the pair list;
#: khop: final visited set. An edge checkpoint the plan does not read is
#: left for the harness, and the JVM's ContextCleaner may free it first
#: once its frame is garbage-collected, so the left count is an upper
#: bound. A superseded loop round or a transient build checkpoint that
#: leaked would exceed it.
LEFT_BEHIND = {
    "ngram_jaccard_dedup": (2, 2),
    "dup_clusters": (2, 3),
    "dup_clusters_star": (3, 3),
    "corpus_keep_list": (2, 3),
    "embedding_dup_clusters": (1, 2),
    "khop_reach": (1, 1),
}


@pytest.mark.parametrize("key", sorted(LEFT_BEHIND))
def test_iterative_keys_free_superseded_checkpoints(spark, sf_dir, key):
    from imperio_patitas_etl_spark.queries import all_queries

    n_read, max_left = LEFT_BEHIND[key]
    before = persistent_rdd_ids(spark)
    df = all_queries()[key](spark, sf_dir)
    df.count()
    left = persistent_rdd_ids(spark) - before
    read = _checkpoints_read(df)
    release_rdds(spark, left)
    assert len(read) == n_read and read <= left, (sorted(read), sorted(left))
    assert len(left) <= max_left, sorted(left)
