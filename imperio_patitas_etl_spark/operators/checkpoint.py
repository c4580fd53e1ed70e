"""Explicit release of ``localCheckpoint`` blocks.

``DataFrame.localCheckpoint`` persists the materialized RDD in the block
manager, and the blocks are otherwise freed only when the JVM-side RDD
object is garbage-collected and the ContextCleaner gets around to it.
Inside an iterative operator (connected components, star contraction,
k-hop BFS) every round checkpoints a new generation, so a long-lived
session — the bench sweep, a notebook, a multi-query application —
accumulates dead generations and every later job schedules around their
blocks; the same query runs 2-3× slower late in a sweep than in a fresh
JVM purely from this accumulation (SCALE.md, checkpoint hygiene).

The rule is to free by handle. A checkpointed frame's logical plan is a
``LogicalRDD`` leaf over the persisted RDD, so ``release(df)`` unpersists
exactly the blocks ``df`` names — a superseded loop round once the next
round is materialized and every action reading the old one has run, an
intermediate once the checkpoint built from it exists. It cannot free a
cache or checkpoint it does not name. Inside a query, every loop frees
its superseded rounds and every build frees every checkpoint its result
does not read, so a key leaves persisted exactly the checkpoints its
returned plan reads. The harness (``bench.py``, ``tools/check.py``,
``tools/dump_plans.py``, ``tools/scaling_curve.py``) frees those after
consuming the frame with ``release_plan``. ``release_plan`` frees every
checkpoint a plan reads, so inside a query it may only be called on a
frame nothing else will read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def release(*frames: DataFrame) -> None:
    """Unpersist (non-blocking) the RDD behind each checkpointed frame.
    Raises ``ValueError`` for a frame that is not a checkpoint — a frame
    derived from one (``ck.filter(...)``) names no blocks of its own."""
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() != "LogicalRDD" or not plan.rdd().isCheckpointed():
            raise ValueError(f"not a checkpointed frame: {plan.nodeName()}")
        plan.rdd().unpersist(False)


def release_plan(df: DataFrame) -> set[int]:
    """Unpersist (non-blocking) every checkpoint ``df``'s plan reads —
    each ``LogicalRDD`` leaf over a checkpointed RDD, subqueries
    included — and return their RDD ids. Other ``LogicalRDD`` leaves
    (a ``createDataFrame`` over local rows) are left alone."""
    freed: set[int] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD" and node.rdd().isCheckpointed():
            node.rdd().unpersist(False)
            freed.add(node.rdd().id())
        for nodes in (node.children(), node.subqueries()):
            stack += [nodes.apply(i) for i in range(nodes.size())]
    return freed


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently persisted RDDs (includes localCheckpoint
    storage)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist (non-blocking) every persisted RDD whose id is in
    ``ids``. Ids no longer present are skipped silently."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)
