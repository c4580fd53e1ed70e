"""Distributed graph connectivity operators.

``connected_components_star`` is the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): each round rewires edges toward component minima, and
the edge set converges to a star forest — every node points at its
component's minimum id — in O(log n) rounds REGARDLESS of graph diameter.

This is the scale path promised in SCALE.md for duplicate clustering:
the min-label propagation in ``queries/text.py:connected_components``
(the registry query) converges in O(diameter) rounds, which is ideal for
near-dup clumps (diameter 2-5) but unbounded on path-shaped graphs; the
star algorithm trades a couple of extra shuffles per round for the
logarithmic guarantee. Both are pure DataFrame plans — per round: a
groupBy-min and an equi-join over skinny (node, node) edges — with
``localCheckpoint`` per round to keep the logical plan O(1) (the lesson
pinned in tests/test_quality_clusters.py: persistence alone lets the
plan grow per iteration until the driver chokes on bookkeeping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.checkpoint import release

STAR_MAX_ROUNDS = 40


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) ∀ directions → for each u with m = min(N(u) ∪ {u}), emit
    (v, m) for every neighbor v > u. Larger neighbors re-attach to the
    local minimum."""
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select("a", F.least("mb", F.col("a")).alias("m"))
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge (big, small); for each big u with smaller
    neighborhood N(u) and m = min(N(u)), emit (v, m) for v ∈ N(u) ∪ {u},
    v ≠ m. Chains collapse toward minima."""
    directed = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    nbr_edges = (
        directed.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edges = mins.select("a", F.col("m").alias("b"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Star-contraction connected components over ``docs(doc_id)`` and
    undirected ``edges(doc_a, doc_b)``; returns (doc_id, cluster_id) with
    cluster_id = min doc_id of the component — same contract and same
    unique fixpoint as ``connected_components``, O(log n) rounds instead
    of O(diameter).

    Convergence: both edge sets are DISTINCT, so set equality is
    |cur| = |nxt| AND nxt\\cur = ∅ — ONE aggregate per round over a left
    join of the new checkpoint against the old yields both the
    cardinality and the novel-edge count (a count + ``exceptAll`` probe
    would be two jobs on converged rounds; on the tiny rep graphs the
    cluster keys feed this loop, per-job overhead IS the round cost)."""
    cur = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_cur = cur.count()
    for _ in range(STAR_MAX_ROUNDS):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        # both sides distinct ⇒ the left join is row-preserving on nxt:
        # count(*) = |nxt|, unmatched rows = |nxt \ cur|
        probe = (
            nxt.join(
                cur.select("a", "b", F.lit(1).alias("__seen")),
                ["a", "b"],
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(
                    F.when(F.col("__seen").isNull(), F.lit(1))
                ).alias("novel"),
            )
            .first()
        )
        n_nxt = probe["n"]
        changed = n_nxt != n_cur or probe["novel"] > 0
        # cur's blocks are dead once the convergence probe has read them
        release(cur)
        cur, n_cur = nxt, n_nxt
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint edges form a star forest: every non-root points at its root
    labels = cur.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    unit: int = 1_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration integer PageRank over undirected ``edges(part_a,
    part_b)``; returns (part, rank_units). All-integer recurrence

        r0(v) = unit
        r_{k+1}(v) = (100-damping_pct)% · unit
                     + (damping_pct · Σ_{u→v} (r_k(u) div deg(u))) div 100

    so the ranking is bit-reproducible across engines, partitionings,
    and re-runs (no float accumulation order anywhere). The inbound sum
    widens to DECIMAL(38,0) before the damping multiply — a hub's
    inbound mass approaches total graph mass n·unit, which clears int64
    at n ≈ 10⁹ nodes. Undirected edges mean deg ≥ 1 for every node in
    the graph, so there is no dangling mass to redistribute.

    Scale shape per iteration: one equi-join of the skinny rank table
    onto the edge list (same key every round — a cluster co-locates it
    by bucketing the edge list on src) plus one map-side-combinable
    groupBy: the Pregel step expressed relationally. The edge set is
    ``localCheckpoint``-ed once so its derivation doesn't re-enter every
    iteration's lineage (the dup_clusters lesson above)."""
    teleport = unit * (100 - damping_pct) // 100
    sym = (
        edges.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .union(
            edges.select(
                F.col("part_b").alias("src"), F.col("part_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    # the degree table is read by every iteration's contribution join
    # and by the rank seed; checkpointing the skinny (node, deg) relation
    # keeps the per-iteration plan a leaf join instead of re-deriving the
    # aggregate per reference (26 -> ~8 static Exchange nodes at sf0.1)
    deg = sym.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    ranks = deg.select("src", F.lit(unit).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            sym.join(ranks, "src")
            .join(deg, "src")
            .select("dst", F.expr("rank div deg").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("s"))
            .select(
                F.col("dst").alias("src"),
                F.expr(
                    f"CAST({teleport} + ({damping_pct} * s) div 100 AS BIGINT)"
                ).alias("rank"),
            )
        )
    return ranks.select(
        F.col("src").alias("part"), F.col("rank").alias("rank_units")
    )
