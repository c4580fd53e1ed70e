"""Explicit release of superseded ``localCheckpoint`` blocks.

``DataFrame.localCheckpoint`` persists the materialized RDD in the block
manager, and PySpark exposes no handle to unpersist it — the blocks are
freed only when the JVM-side RDD object is garbage-collected and the
ContextCleaner gets around to it. Inside an iterative operator (connected
components, label propagation) every round checkpoints a new generation,
so a long-lived session — the 143-key bench sweep, a notebook, a
multi-query driver — accumulates dead generations and every later job
schedules around their blocks. Measured on this box: the same query runs
2-3× slower late in a sweep than in a fresh JVM purely from this
accumulation.

The fix uses the public ``SparkContext.getPersistentRDDs`` registry:
snapshot the persisted-RDD ids before creating a checkpoint, diff after,
and ``unpersist`` a generation's ids once the NEXT generation is
materialized and every action that reads the old one has run. This is
the DataFrame-layer equivalent of what GraphX's Pregel does with
``materialize``/``unpersist`` between supersteps.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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


class CheckpointGenerations:
    """Tracks localCheckpoint block ids per loop generation and frees a
    generation once it is superseded.

    Usage::

        gens = CheckpointGenerations(spark)
        cur = df.localCheckpoint(); gens.mark()
        while ...:
            nxt = step(cur).localCheckpoint(); gens.mark()
            ... every action reading `cur` ...
            gens.release_previous()   # cur's blocks are now dead
            cur = nxt

    CONTRACT: every relation the loop body reads must be fully
    materialized (checkpointed) BEFORE the first ``mark()``. ``mark()``
    attributes ALL newly-persisted RDD ids to the current generation —
    it cannot tell a checkpoint from a lazily-materialized
    ``.persist()`` cache whose RDD first registers during the same job.
    Such a cache would be unpersisted by ``release_previous()``
    mid-loop, and because the CacheManager still routes
    plan-equivalent frames through the now-empty InMemoryRelation,
    every later read — in this call and in every later plan-matching
    call in the session — silently recomputes the cached pipeline
    (measured: 8 s → 23 s on the second dup_clusters run before
    queries/text.py:connected_components switched its edge relation
    from persist() to an up-front localCheckpoint).
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._seen = persistent_rdd_ids(spark)
        self._gens: list[set[int]] = []

    def mark(self) -> None:
        now = persistent_rdd_ids(self._spark)
        self._gens.append(now - self._seen)
        self._seen = now

    def release_previous(self) -> None:
        """Free every tracked generation except the newest."""
        while len(self._gens) > 1:
            release_rdds(self._spark, self._gens.pop(0))
