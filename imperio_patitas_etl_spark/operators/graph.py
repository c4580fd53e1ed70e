"""Graph operators: connected components and fixed-iteration PageRank.

``connected_components`` is the one CC operator. Its edge sets are the
near-duplicate pair lists of the cluster keys, bounded by the near-dup
output rather than the corpus: tens of rep pairs at sf0.1. It reads at
most ``CC_DRIVER_MAX_EDGES + 1`` edges in one job; when that is all of
them it finishes with union-find on the driver, otherwise it runs the
distributed star contraction.

``connected_components_star`` is the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): each round rewires edges toward component minima, and
the edge set converges to a star forest — every node points at its
component's minimum id — in O(log n) rounds REGARDLESS of graph diameter.
Per round it is a groupBy-min and an equi-join over skinny (node, node)
edges, ``localCheckpoint``-ed so the logical plan stays O(1) (persistence
alone lets the plan grow per iteration until the driver chokes on
bookkeeping).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.checkpoint import release

STAR_MAX_ROUNDS = 40

#: Largest edge set ``connected_components`` collects and solves on the
#: driver. Measured on 4 vCPUs (local[4]) over sparse ``spark.range``
#: graphs: the Arrow collect plus union-find plus ``createDataFrame``
#: takes 0.11 s at 10⁴ edges, 0.34 s at 10⁵ and 3.3–3.7 s at 10⁶, where
#: ONE star round takes 1.6 s, 1.8 s and 7–9 s, and the star path needs
#: a seed job and several rounds. The driver path wins at every size, so
#: the bound is driver memory: 10⁶ edges are 16 MB of Arrow longs and a
#: 196 MiB peak Python heap for the union-find.
CC_DRIVER_MAX_EDGES = 1_000_000


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of undirected ``edges(doc_a, doc_b)``:
    (doc_id, cluster_id) for every edge endpoint that is not its
    component's minimum, with cluster_id = that minimum. A node missing
    from the result labels itself, so callers apply
    ``coalesce(cluster_id, own id)``. Edges with a NULL endpoint and
    self-loops carry no connectivity and are skipped on both paths.

    One job collects at most ``CC_DRIVER_MAX_EDGES + 1`` edges as Arrow.
    If that is the whole edge set, union-find runs on the driver and the
    labels come back as a local frame, not a checkpoint, so the result
    pins no executor blocks. A larger set goes to
    ``connected_components_star``. Either way the result no longer reads
    ``edges``: a caller frees an edge checkpoint as soon as this
    returns."""
    head = edges.select("doc_a", "doc_b").limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
    if head.num_rows > CC_DRIVER_MAX_EDGES:
        return connected_components_star(edges)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while (p := parent.setdefault(x, x)) != x:
            parent[x] = parent[p]  # path halving
            x = parent[p]
        return x

    for a, b in zip(head["doc_a"].to_pylist(), head["doc_b"].to_pylist()):
        if a is None or b is None or a == b:
            continue
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's minimum
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    ids, roots = [], []
    for x in parent:
        r = find(x)
        if r != x:
            ids.append(x)
            roots.append(r)
    labels = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "cluster_id": pa.array(roots, pa.int64())}
    )
    return edges.sparkSession.createDataFrame(labels, "doc_id long, cluster_id long")


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


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Star-contraction connected components of undirected ``edges(doc_a,
    doc_b)``, in O(log n) rounds whatever the diameter; same contract and
    same unique fixpoint as ``connected_components``. The fixpoint edges
    form a star forest, every non-root pointing at its root, so they are
    the labels as they stand.

    The seed's distinct-edge count is an ``Observation`` on its own
    checkpoint job. Convergence: both edge sets are DISTINCT, so set
    equality is |cur| = |nxt| AND nxt\\cur = ∅ — ONE aggregate per round
    over a left join of the new checkpoint against the old yields both
    the cardinality and the novel-edge count (a count + ``exceptAll``
    probe would be two jobs on converged rounds; on small edge sets
    per-job overhead IS the round cost)."""
    seen = Observation()
    cur = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_cur = seen.get["n"]
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
    return cur.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))


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
