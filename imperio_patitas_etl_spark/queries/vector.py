"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Large-scale training-data pipeline surface (SURVEY.md §7 phase 3):
brute-force cosine top-k as the correctness baseline, random-hyperplane
LSH bucketing as the scale path, and cosine near-dup pairs.

Exactness strategy: embeddings are scaled to integer units (×10⁷, exact for
float32 inputs) so dot products and norms are exact 64-bit integers in both
engines; the final cosine is then the SAME double-precision expression on
identical integers — bit-for-bit reproducible, no rounding ambiguity.

Scale notes (100 TB):
- brute-force is a broadcast of the (small) query set against the full
  corpus — one narrow pass, no shuffle, O(n·q·d);
- LSH bucketing replaces the full scan with an equi-join on bucket id —
  candidate generation becomes shuffle-bounded, the standard ANN trade;
- for real workloads the bucketed variant generalizes to IVF with learned
  centroids; the plumbing (assign → co-partition → per-bucket top-k) is
  identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.operators.checkpoint import release
from imperio_patitas_etl_spark.operators.graph import connected_components
from imperio_patitas_etl_spark.sources.parquet import load_table

#: integer scaling: float32 → exact integer units (×1e7 < 2^31 for |x|<200)
_IVEC = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
_SQL_IVEC = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
)

TOP_K = 5
QUERY_PRED = "vec_id % 100 = 0"  # 5 query vectors per 500 rows, deterministic


def _with_ivec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivec_norm(load_table(spark, sf_dir, "embeddings"))


def ivec_norm(e: DataFrame) -> DataFrame:
    """(vec_id, label, embedding) → (vec_id, label, ivec, norm2) with exact
    integer vector units. Two-step select so the float→integer transform
    runs once per row, with norm2 computed from the materialized ivec."""
    iv = e.select("vec_id", "label", F.expr(_IVEC).alias("ivec"))
    return iv.select(
        "vec_id",
        "label",
        "ivec",
        F.expr("aggregate(ivec, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").alias(
            "norm2"
        ),
    )


def _dot(a: str, b: str) -> F.Column:
    """Exact integer dot product via zip_with + aggregate (JVM-side)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def q_ann_topk_bruteforce(
    spark: SparkSession, sf_dir: str, v: DataFrame | None = None
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against every
    candidate, rank per query. The baseline every ANN variant is judged
    against; at scale this is one narrow broadcast pass over the corpus.

    ``v`` lets a composing caller (``q_ann_recall``) substitute a shared
    materialized integerization for the in-function scan."""
    v = _with_ivec(spark, sf_dir) if v is None else v
    q = v.filter(F.expr(QUERY_PRED)).select(
        F.col("vec_id").alias("q_id"), F.col("ivec").alias("q_vec"), F.col("norm2").alias("q_norm2")
    )
    cand = v.select("vec_id", "ivec", "norm2")
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                _dot("ivec", "q_vec")
                / F.sqrt(F.col("norm2").cast("double") * F.col("q_norm2").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


ORACLE_ANN_TOPK = f"""
    WITH v AS (
        SELECT vec_id, label, {_SQL_IVEC} AS ivec,
               list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, ivec AS q_vec, norm2 AS q_norm2 FROM v WHERE {QUERY_PRED}
    ), scored AS (
        SELECT q.q_id, v.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> v.ivec[i] * q.q_vec[i]))::BIGINT
                 / sqrt(v.norm2::DOUBLE * q.q_norm2::DOUBLE) AS cosine
        FROM v CROSS JOIN q WHERE v.vec_id != q.q_id
    )
    SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


N_PLANES = 4
PLANE_PRED = "vec_id IN (1, 2, 3, 4)"  # fixed hyperplane normals from the data


def _bucket_expr(plane_rows: list) -> F.Column:
    """Bucket id: sign bits of dot products against the fixed hyperplanes."""
    bucket = F.lit(0)
    for b, plane in enumerate(plane_rows):
        arr = "array(" + ",".join(f"CAST({x} AS BIGINT)" for x in plane) + ")"
        bucket = bucket + F.when(_dot("ivec", arr) > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def collect_planes(v: DataFrame, n_planes: int = N_PLANES) -> list:
    """Driver-side fetch of the hyperplane normals (the ``n_planes``
    smallest positive vec_ids — tiny, corpus-size-independent)."""
    return [
        r["ivec"]
        for r in v.filter(F.col("vec_id").between(1, n_planes))
        .orderBy("vec_id")
        .select("ivec")
        .collect()
    ]


def q_ann_lsh_bucketed(
    spark: SparkSession, sf_dir: str, v: DataFrame | None = None
) -> DataFrame:
    """LSH-bucketed ANN: 4 random-hyperplane sign bits (planes = fixed data
    vectors) partition the corpus into 16 buckets; each query searches only
    its own bucket. Approximate by design — the oracle replicates the same
    algorithm, so results match exactly.

    The plane collect is a tiny driver-side lookup (4 rows); candidate
    scoring becomes an equi-join on bucket — the shuffle-bounded scale path.
    ``v`` lets a composing caller (``q_ann_recall``) substitute a shared
    materialized integerization for the in-function scan.
    """
    v = _with_ivec(spark, sf_dir) if v is None else v
    vb = v.withColumn("bucket", _bucket_expr(collect_planes(v)))
    q = vb.filter(F.expr(QUERY_PRED)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_vec"),
        F.col("norm2").alias("q_norm2"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        vb.join(F.broadcast(q), (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            (
                _dot("ivec", "q_vec")
                / F.sqrt(F.col("norm2").cast("double") * F.col("q_norm2").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "bucket", F.round("cosine", 6).alias("cosine"), "rank")
    )


ORACLE_ANN_LSH = f"""
    WITH v AS (
        SELECT vec_id, {_SQL_IVEC} AS ivec,
               list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
        FROM embeddings
    ), planes AS (
        SELECT vec_id AS p_id, ivec AS p_vec FROM v WHERE {PLANE_PRED}
    ), vb AS (
        SELECT v.vec_id, v.ivec, v.norm2,
               CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> v.ivec[i] * p.p_vec[i])) > 0
                    THEN (1 << (p.p_id - 1)) ELSE 0 END) AS INTEGER) AS bucket
        FROM v CROSS JOIN planes p
        GROUP BY v.vec_id, v.ivec, v.norm2
    ), q AS (
        SELECT vec_id AS q_id, ivec AS q_vec, norm2 AS q_norm2, bucket AS q_bucket
        FROM vb WHERE {QUERY_PRED}
    ), scored AS (
        SELECT q.q_id, vb.vec_id, vb.bucket,
               list_sum(list_transform(range(1, 65),
                   i -> vb.ivec[i] * q.q_vec[i]))::BIGINT
                 / sqrt(vb.norm2::DOUBLE * q.q_norm2::DOUBLE) AS cosine
        FROM vb JOIN q ON vb.bucket = q.q_bucket AND vb.vec_id != q.q_id
    )
    SELECT q_id, vec_id, bucket, ROUND(cosine, 6) AS cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


N_PROBE = 4
#: Fixed-K sample-init centroids: the K smallest positive vec_ids. K must
#: be CORPUS-SIZE-INDEPENDENT (r3 scale fix): the old ``vec_id % 37 = 1``
#: predicate collected n/37 centroids to the driver and shipped them in
#: the UDF closure — linear driver-side growth. A real deployment sizes K
#: ~√n offline and stores centroids as a small table; the plumbing here
#: (fixed-size driver collect → closure broadcast → narrow assignment) is
#: exactly that shape.
IVF_K = 64
CENT_PRED = f"vec_id >= 1 AND vec_id <= {IVF_K}"


ASSIGN_SCHEMA = (
    "vec_id long, ivec array<bigint>, norm2 long, cell long, probes array<bigint>"
)


def _collect_centroids(v: DataFrame):
    """Driver-side fetch of the fixed-K sample-init centroids as numpy
    arrays (ids, K×d int64 matrix, float64 norms)."""
    import numpy as np

    cents = [
        (r["vec_id"], r["ivec"], r["norm2"])
        for r in v.filter(F.expr(CENT_PRED)).orderBy("vec_id").collect()
    ]
    return (
        np.array([c[0] for c in cents], dtype=np.int64),
        np.array([list(c[1]) for c in cents], dtype=np.int64),  # K×d
        np.array([float(c[2]) for c in cents]),
    )


def _assign_fn(cent_ids, cent_mat, cent_norms, n_probe: int):
    """Arrow-batched cell assignment: one exact int64 ``X @ C.T`` per
    batch, then per-row (cosine DESC, cent_id ASC) ordering — the same
    IEEE-double cosine the oracle computes, so cell choice matches
    bit-for-bit. Centroid arrays are FIXED-SIZE closures (corpus-
    independent), so this stays a narrow pass at any scale."""
    import numpy as np
    import pandas as pd

    def _assign(batches):
        for pdf in batches:
            x = np.array(pdf["ivec"].tolist(), dtype=np.int64)  # n×d, exact
            dots = x @ cent_mat.T  # exact int64: |x|<2^28 per coord, d=64
            cos = dots / np.sqrt(
                pdf["norm2"].to_numpy(dtype=np.float64)[:, None] * cent_norms[None, :]
            )
            # per-row argsort by (cosine DESC, cent_id ASC)
            order = np.lexsort(
                (np.broadcast_to(cent_ids, cos.shape), -cos), axis=-1
            )[:, :n_probe]
            near = cent_ids[order]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "ivec": pdf["ivec"],
                    "norm2": pdf["norm2"],
                    "cell": near[:, 0],
                    "probes": list(near),
                }
            )

    return _assign


def q_ann_ivf(
    spark: SparkSession, sf_dir: str, v: DataFrame | None = None
) -> DataFrame:
    """IVF-Flat ANN: coarse-quantize the corpus into cells (nearest of K
    sample-init centroids by cosine), then each query probes only its
    ``N_PROBE`` nearest cells. The learned-KMeans step is replaced by
    deterministic sample-init (centroids = fixed data vectors) so the
    oracle replicates training exactly; Lloyd iterations would change the
    centroids, not the plumbing.

    Scale shape: centroids are collected driver-side (FIXED K=64 rows —
    corpus-size-independent, see CENT_PRED) and shipped in the UDF
    closure, so cell assignment is a NARROW per-partition pass — no
    shuffle over the corpus; probing is an equi-join on cell against the
    broadcast query probes. At 100 TB the corpus would be written bucketed
    by cell, making probes partition-pruned reads.

    Assignment is the one place this engine drops to a Pandas UDF on
    purpose: K·d dot products per row is a dense matmul, and one exact
    int64 ``X @ C.T`` per Arrow batch beats both codegen-unrolled
    per-centroid expressions (K·d literals blow up codegen) and
    interpreted higher-order-function lambdas by ~10×. The cosines that
    decide cell order are the same IEEE doubles the oracle computes
    (integer dot, then one division by one sqrt), so results still match
    bit-for-bit. ``v`` lets a composing caller (``q_ann_recall``)
    substitute a shared materialized integerization for the in-function
    scan."""
    v = _with_ivec(spark, sf_dir) if v is None else v
    cent_ids, cent_mat, cent_norms = _collect_centroids(v)
    _assign = _assign_fn(cent_ids, cent_mat, cent_norms, min(N_PROBE, len(cent_ids)))

    assigned = v.mapInPandas(_assign, ASSIGN_SCHEMA)
    # the probes branch re-evaluates the plan — assign only the query rows
    # there, not the whole corpus a second time
    probes = v.filter(F.expr(QUERY_PRED)).mapInPandas(_assign, ASSIGN_SCHEMA).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_vec"),
        F.col("norm2").alias("q_norm2"),
        F.explode("probes").alias("probe_cell"),
    )
    scored = (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "vec_id",
            "cell",
            (
                _dot("ivec", "q_vec")
                / F.sqrt(F.col("norm2").cast("double") * F.col("q_norm2").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cell", F.round("cosine", 6).alias("cosine"), "rank")
    )


ORACLE_ANN_IVF = f"""
    WITH v AS (
        SELECT vec_id, {_SQL_IVEC} AS ivec,
               list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
        FROM embeddings
    ), cents AS (
        SELECT vec_id AS cent_id, ivec AS c_vec, norm2 AS c_norm2 FROM v WHERE {CENT_PRED}
    ), sim AS (
        SELECT v.vec_id, v.ivec, v.norm2, c.cent_id,
               list_sum(list_transform(range(1, 65),
                   i -> v.ivec[i] * c.c_vec[i]))::BIGINT
                 / sqrt(v.norm2::DOUBLE * c.c_norm2::DOUBLE) AS c_cos,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY list_sum(list_transform(range(1, 65),
                                      i -> v.ivec[i] * c.c_vec[i]))::BIGINT
                                    / sqrt(v.norm2::DOUBLE * c.c_norm2::DOUBLE) DESC,
                                  c.cent_id) AS rn
        FROM v CROSS JOIN cents c
    ), assigned AS (
        SELECT vec_id, ivec, norm2, cent_id AS cell FROM sim WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS q_id, cent_id AS probe_cell FROM sim
        WHERE {QUERY_PRED} AND rn <= {N_PROBE}
    ), q AS (
        SELECT vec_id AS q_id, ivec AS q_vec, norm2 AS q_norm2 FROM v WHERE {QUERY_PRED}
    ), scored AS (
        SELECT p.q_id, a.vec_id, a.cell,
               list_sum(list_transform(range(1, 65),
                   i -> a.ivec[i] * q.q_vec[i]))::BIGINT
                 / sqrt(a.norm2::DOUBLE * q.q_norm2::DOUBLE) AS cosine
        FROM assigned a
        JOIN probes p ON a.cell = p.probe_cell
        JOIN q ON q.q_id = p.q_id
        WHERE a.vec_id != p.q_id
    )
    SELECT q_id, vec_id, cell, ROUND(cosine, 6) AS cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One relational Lloyd iteration over the IVF coarse quantizer — the
    training step a real 100 TB pipeline runs, expressed so the oracle can
    replicate it exactly:

    1. assign every vector to its nearest sample-init centroid (narrow
       Arrow-batched pass, same as ``ann_ivf``);
    2. per-cell mean centroid: because cosine is scale-invariant the mean's
       DIRECTION equals the per-cell element-wise SUM's direction, so the
       trained centroid is the integer truncated mean ``sum div count``
       (identical trunc-toward-zero in Spark/DuckDB/Python) — no float
       accumulation anywhere;
    3. re-assign the corpus to the trained centroids and report per-cell
       membership stats (count, Σ vec_id, centroid norm²) — integers, so
       the check is exact.

    Scale shape: both assignment passes are narrow mapInPandas over the
    corpus; the mean reduction is one explode→groupBy whose OUTPUT is K·d
    rows (fixed), which is all the driver ever collects. Cells left empty
    after step 1 simply vanish (standard Lloyd degeneracy; K′ ≤ K).
    More iterations = repeat steps 1-2; one is enough to exercise the
    shape."""
    import numpy as np

    # referenced three times at runtime (centroid collect, Lloyd sums
    # pass, final assignment pass) — un-materialized, each re-ran the
    # float→integer transform over the corpus (r19, same fix as
    # ann_recall; guide §3.3)
    v = _with_ivec(spark, sf_dir).localCheckpoint()
    cent_ids, cent_mat, cent_norms = _collect_centroids(v)
    assign0 = _assign_fn(cent_ids, cent_mat, cent_norms, 1)

    # per-cell element-wise sums: corpus-wide work, fixed-size (K·d) result
    sums = (
        v.mapInPandas(assign0, ASSIGN_SCHEMA)
        .select("cell", F.posexplode("ivec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
        .collect()
    )
    by_cell: dict[int, dict[int, tuple[int, int]]] = {}
    for r in sums:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["s"], r["cnt"])
    cells = sorted(by_cell)

    def _trunc_div(s: int, c: int) -> int:  # toward zero, like Spark div / DuckDB //
        q = abs(s) // c
        return q if s >= 0 else -q

    d = cent_mat.shape[1]
    t_ids = np.array(cells, dtype=np.int64)
    t_mat = np.array(
        [[_trunc_div(*by_cell[c][p]) for p in range(d)] for c in cells], dtype=np.int64
    )
    t_norm2 = [int((row.astype(object) ** 2).sum()) for row in t_mat]
    t_norms = np.array([float(x) for x in t_norm2])

    assign1 = _assign_fn(t_ids, t_mat, t_norms, 1)
    cent_info = spark.createDataFrame(
        list(zip(cells, t_norm2)), "cell long, t_norm2 long"
    )
    return (
        v.mapInPandas(assign1, ASSIGN_SCHEMA)
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        .join(F.broadcast(cent_info), "cell")
    )


_SQL_COS = (
    "list_sum(list_transform(range(1, 65), i -> {a}.ivec[i] * {b}[i]))::BIGINT"
    " / sqrt({a}.norm2::DOUBLE * {n}::DOUBLE)"
)

ORACLE_ANN_IVF_TRAINED = f"""
    WITH v AS (
        SELECT vec_id, {_SQL_IVEC} AS ivec,
               list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
        FROM embeddings
    ), cents AS (
        SELECT vec_id AS cent_id, ivec AS c_vec, norm2 AS c_norm2 FROM v WHERE {CENT_PRED}
    ), sim0 AS (
        SELECT v.vec_id, v.ivec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                   {_SQL_COS.format(a='v', b='c.c_vec', n='c.c_norm2')} DESC,
                   c.cent_id) AS rn
        FROM v CROSS JOIN cents c
    ), a0 AS (
        SELECT vec_id, ivec, cent_id AS cell FROM sim0 WHERE rn = 1
    ), csum AS (
        SELECT cell, i, SUM(ivec[i])::BIGINT AS s, COUNT(*)::BIGINT AS cnt
        FROM a0 CROSS JOIN range(1, 65) t(i)
        GROUP BY cell, i
    ), trained AS (
        -- s // cnt truncates toward zero in DuckDB, matching Spark's div
        SELECT cell, list(s // cnt ORDER BY i) AS t_vec,
               list_sum(list_transform(list(s // cnt ORDER BY i), x -> x * x))::BIGINT
                   AS t_norm2
        FROM csum GROUP BY cell
    ), sim1 AS (
        SELECT v.vec_id, t.cell, t.t_norm2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                   {_SQL_COS.format(a='v', b='t.t_vec', n='t.t_norm2')} DESC,
                   t.cell) AS rn
        FROM v CROSS JOIN trained t
    )
    SELECT cell, COUNT(*)::BIGINT AS n_members,
           SUM(vec_id)::BIGINT AS sum_vec_id,
           ANY_VALUE(t_norm2) AS t_norm2
    FROM sim1 WHERE rn = 1
    GROUP BY cell
"""


#: Dedup threshold tuned to the synthetic corpus (random vectors, max
#: pairwise cosine ≈ 0.6 at sf0.1) so the query exercises a NON-EMPTY result
#: end-to-end; a real near-dup corpus would use 0.9+. Semantics are
#: threshold-independent.
COS_DEDUP_T = 0.45

#: Target LSH bucket occupancy for the dedup path. A FIXED plane count is
#: the r3 scale-killer (4 planes = 16 buckets forever → O(n²/16) bucket
#: self-join); instead the plane count adapts to the corpus so expected
#: bucket size stays ~this constant and the self-join cost stays O(n ·
#: DEDUP_TARGET_BUCKET) — linear. 32 keeps sf0.01 at 4 planes (16
#: buckets for 500 rows) and reaches 8 planes at sf0.1, ~25 at 10⁹ rows.
DEDUP_TARGET_BUCKET = 32
DEDUP_MIN_PLANES = 4


def dedup_n_planes(n_rows: int) -> int:
    """Smallest p with 2^p ≥ n_rows / DEDUP_TARGET_BUCKET, floored at
    DEDUP_MIN_PLANES. Integer arithmetic only (ceil-div + bit_length), so
    the SQL twin — ``GREATEST(min, length(bin(ceil_div(count) - 1)))`` —
    agrees exactly; no float log2 whose last ulp could flip a ceil.
    Stays ≤ 31 for any corpus under 32·2³¹ rows, so ``1 << b`` bucket
    bits fit an int32 in both engines."""
    k = (n_rows + DEDUP_TARGET_BUCKET - 1) // DEDUP_TARGET_BUCKET
    return max(DEDUP_MIN_PLANES, (k - 1).bit_length())


def cosine_pairs_lsh(vb: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine near-dup pairs over LSH-bucket-prefiltered candidates.

    ``vb`` carries (vec_id, ivec, norm2, bucket); candidate generation is an
    equi-join on ``bucket`` — shuffle-bounded by bucket size instead of
    all-pairs — then exact integer-dot cosine verifies each candidate.
    Approximate by design (a pair split by a hyperplane is missed); the
    oracle replicates the same bucketing, so results match exactly."""
    a = vb.alias("a")
    b = vb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                _dot("a.ivec", "b.ivec")
                / F.sqrt(F.col("a.norm2").cast("double") * F.col("b.norm2").cast("double"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH buckets prefilter
    the pair space, then exact cosine ≥ COS_DEDUP_T verifies candidates.

    The plane count is CORPUS-ADAPTIVE (``dedup_n_planes``): buckets
    multiply with the data so the bucket self-join stays ~linear
    (O(n · DEDUP_TARGET_BUCKET)) instead of O(n²/16) under the old fixed
    4 planes. The count() driving it is a parquet-metadata read, and the
    oracle recomputes the same plane count from COUNT(*) with the same
    integer arithmetic, so both engines bucket identically. At sf0.01
    (500 rows) this resolves to the same 4 planes as before — non-empty
    result preserved; at sf0.1 it is 8 planes / 256 buckets."""
    n_rows = load_table(spark, sf_dir, "embeddings").count()
    v = _with_ivec(spark, sf_dir)
    vb = v.withColumn("bucket", _bucket_expr(collect_planes(v, dedup_n_planes(n_rows))))
    return cosine_pairs_lsh(vb, COS_DEDUP_T)


ORACLE_COS_DEDUP = f"""
    WITH v AS (
        SELECT vec_id, {_SQL_IVEC} AS ivec,
               list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
        FROM embeddings
    ), np AS (
        -- corpus-adaptive plane count, same integer arithmetic as
        -- dedup_n_planes(): length(bin(x)) == x.bit_length() for x >= 1
        SELECT GREATEST({DEDUP_MIN_PLANES},
                        length(bin(((COUNT(*) + {DEDUP_TARGET_BUCKET - 1})
                                    // {DEDUP_TARGET_BUCKET}) - 1))) AS n_planes
        FROM embeddings
    ), planes AS (
        SELECT vec_id AS p_id, ivec AS p_vec FROM v
        WHERE vec_id >= 1 AND vec_id <= (SELECT n_planes FROM np)
    ), vb AS (
        SELECT v.vec_id, v.ivec, v.norm2,
               CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> v.ivec[i] * p.p_vec[i])) > 0
                    THEN (1 << (p.p_id - 1)) ELSE 0 END) AS INTEGER) AS bucket
        FROM v CROSS JOIN planes p
        GROUP BY v.vec_id, v.ivec, v.norm2
    ), pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(range(1, 65),
                   i -> a.ivec[i] * b.ivec[i]))::BIGINT
                 / sqrt(a.norm2::DOUBLE * b.norm2::DOUBLE) AS cosine
        FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cosine, 6) AS cosine
    FROM pairs WHERE cosine >= {COS_DEDUP_T}
"""


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs → duplicate CLUSTERS: the same
    pairs→components step the text side has (``dup_clusters``), over the
    LSH-prefiltered cosine edge set — every vector labeled with the
    minimum vec_id of its near-duplicate component, so keeping rows
    where vec_id = cluster_id is the deduplicated embedding corpus.

    ``connected_components`` labels the pair endpoints that are not
    their component's minimum; every other vector labels itself through
    one left join. The edge list is checkpointed (output-bounded — that
    is the LSH prefilter's point) because CC may read it twice (its size
    probe, then the star seed on a large edge set), and released as soon
    as CC returns: the labels no longer read it."""
    pairs = (
        q_embedding_cosine_dedup(spark, sf_dir)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
        .localCheckpoint()
    )
    cc = connected_components(pairs)
    release(pairs)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    return vecs.join(cc, "doc_id", "left").select(
        F.col("doc_id").alias("vec_id"),
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


ORACLE_EMB_DUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ({ORACLE_COS_DEDUP})
    ), e AS (
        SELECT vec_a AS a, vec_b AS b FROM pairs
        UNION
        SELECT vec_b AS a, vec_a AS b FROM pairs
    ), reach(src, node) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.node = e.a
    )
    SELECT src AS vec_id, MIN(node)::BIGINT AS cluster_id
    FROM reach GROUP BY src
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the approximate ANN variants against the exact
    brute-force top-k: the quality metric that makes the LSH/IVF speed-ups
    judgeable (an ANN index without measured recall is a guess). All three
    rankings are deterministic, so the oracle recomputes the same number.

    recall_bp = hits / (n_queries · k) in half-up basis points, where a hit
    is an (q_id, vec_id) pair the approximate top-k shares with the exact
    top-k. Scale shape: two semi-joins on (q_id, vec_id) over tiny top-k
    result sets — negligible next to the searches themselves.

    Measured at sf0.1 (target: IVF ≥ 2500 bp): IVF 3100 bp probing
    nprobe=4 of ~54 cells (~7% of the corpus; random guessing gives
    ~25 bp, so ~120× lift), LSH 1400 bp scanning ~6% via one 16-bucket
    table. The corpus is UNIFORM RANDOM — the hardest case for ANN, since
    true neighbors don't cluster; on real embedding corpora the same
    index shapes reach far higher recall at the same probe fraction."""
    # the exact top-k table is referenced four times (two semi-joins +
    # two denominators); un-materialized, the static plan duplicated the
    # whole brute-force search per reference (44 Exchange / 24 scan
    # nodes, plans/r18/ann_recall_before.txt) and each ran at runtime —
    # the k·n_queries-row result is checkpointed instead (bounded,
    # corpus-independent; guide §3.3/§5). The shared integerization is
    # checkpointed too: un-materialized, the
    # float→×10⁷-integer transform re-ran over the full corpus once per
    # search pipeline reference — 6 executions per call (bf queries +
    # candidates, LSH table + plane collect, IVF assign + centroid
    # collect) plus the 4 scans in the returned plan. One pass + 6 cheap
    # block reads instead; at 100 TB the analogue is the materialized
    # integer-vector table the IVF docstrings describe.
    v = _with_ivec(spark, sf_dir).localCheckpoint()
    bf = (
        q_ann_topk_bruteforce(spark, sf_dir, v)
        .select("q_id", "vec_id")
        .localCheckpoint()
    )

    def _recall(approx: DataFrame, method: str) -> DataFrame:
        hits = (
            approx.select("q_id", "vec_id")
            .join(bf, ["q_id", "vec_id"], "left_semi")
            .agg(F.count("*").cast("long").alias("hits"))
        )
        denom = bf.agg(F.count("*").cast("long").alias("denom"))
        num = F.col("hits") * 10000 * 2 + F.col("denom")
        den = F.col("denom") * 2
        return hits.crossJoin(F.broadcast(denom)).select(
            F.lit(method).alias("method"),
            "hits",
            "denom",
            ((num - num % den) / den).cast("long").alias("recall_bp"),
        )

    lsh = _recall(q_ann_lsh_bucketed(spark, sf_dir, v), "lsh")
    ivf = _recall(q_ann_ivf(spark, sf_dir, v), "ivf")
    return lsh.unionByName(ivf)


def _sql_recall() -> str:
    def arm(method: str, oracle: str) -> str:
        return f"""
        SELECT '{method}' AS method, hits, denom,
               ((hits * 10000 * 2 + denom) // (denom * 2)) AS recall_bp
        FROM (
            SELECT (SELECT COUNT(*)::BIGINT FROM ({oracle}) a
                    WHERE EXISTS (SELECT 1 FROM ({ORACLE_ANN_TOPK}) bf
                                  WHERE bf.q_id = a.q_id AND bf.vec_id = a.vec_id)) AS hits,
                   (SELECT COUNT(*)::BIGINT FROM ({ORACLE_ANN_TOPK})) AS denom
        )"""

    return arm("lsh", ORACLE_ANN_LSH) + "\n    UNION ALL\n" + arm("ivf", ORACLE_ANN_IVF)


RECALL_BLOCKS = 8


def _allpairs_count_blocked(v: DataFrame, threshold: float) -> DataFrame:
    """Exact count of unordered pairs with cosine ≥ threshold, as a
    BLOCKED dense pass: pack the corpus into ``RECALL_BLOCKS`` row blocks
    (one groupBy), equi-join the B(B+1)/2 unordered block pairs, and let
    numpy compute each block-pair's int64 Gram matrix in one
    ``A @ B.T``. Replaces the old broadcast-nested-loop + per-pair
    zip_with fold, which spent ~13 µs/pair in interpreted array lambdas
    (26-44 s at sf0.1; this path runs it in ~2 s).

    Still O(n²·d) WORK by definition — it's the audit's ground truth —
    but now (a) distributed across block pairs with no corpus-sized
    driver collect, closure, or broadcast, and (b) each task is a dense
    exact-int64 matmul (the ``q_ann_ivf`` argument: |coord| < 2⁸ in
    10⁻² units ⇒ dot < 2⁶³; cosine = integer dot / one sqrt of a
    double product — bit-identical to the oracle's IEEE expression).
    Intra-block pairs keep the vec_id_a < vec_id_b orientation; each
    cross-block unordered pair occurs in exactly one block pair."""
    import numpy as np
    import pandas as pd

    packed = (
        v.withColumn("blk", F.pmod("vec_id", F.lit(RECALL_BLOCKS)))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("ivec").alias("mat"),
            F.collect_list("norm2").alias("norms"),
        )
    )
    pa = packed.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
        F.col("norms").alias("norms_a"),
    )
    pb = packed.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
        F.col("norms").alias("norms_b"),
    )
    pairs = pa.join(pb, pa.blk_a <= pb.blk_b)

    def _count(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                ida = np.asarray(r.ids_a, dtype=np.int64)
                idb = np.asarray(r.ids_b, dtype=np.int64)
                ma = np.array([list(x) for x in r.mat_a], dtype=np.int64)
                mb = np.array([list(x) for x in r.mat_b], dtype=np.int64)
                na = np.asarray(r.norms_a, dtype=np.float64)
                nb = np.asarray(r.norms_b, dtype=np.float64)
                cos = (ma @ mb.T) / np.sqrt(na[:, None] * nb[None, :])
                mask = cos >= threshold
                if r.blk_a == r.blk_b:
                    mask &= ida[:, None] < idb[None, :]
                out.append(int(mask.sum()))
            yield pd.DataFrame({"partial": pd.Series(out, dtype="int64")})

    return pairs.mapInPandas(_count, "partial long")


def q_cosine_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the ``embedding_cosine_dedup`` LSH prefilter against the
    exact all-pairs ground truth — the miss-rate audit the ANN variants
    already have (``ann_recall``): the prefilter is approximate by design
    (a true near-dup pair split across buckets by a hyperplane is never
    verified), and this key turns that from a caveat into a number.

    Verified candidates are a SUBSET of the truth set (the verify step is
    exact cosine on exact integers), so hits = |found| and
    recall_bp = |found| / |all pairs with cosine ≥ T| in half-up basis
    points. The denominator is a deliberate brute-force all-pairs count —
    O(n²·d) by definition, structured as a blocked dense matmul
    (``_allpairs_count_blocked``) — which is what makes this an AUDIT
    query you run on a sample (as here, at test SF), not a production
    plan; the plan under audit stays shuffle-bounded."""
    n_rows = load_table(spark, sf_dir, "embeddings").count()
    v = _with_ivec(spark, sf_dir)
    # referenced three times at runtime (both sides of the LSH self-join
    # + the blocked all-pairs denominator) — un-materialized, each
    # re-ran the float→integer transform over the corpus (r19, the
    # ann_recall fix; guide §3.3). The blocked pass reads the same
    # checkpoint and ignores the bucket column.
    vb = v.withColumn(
        "bucket", _bucket_expr(collect_planes(v, dedup_n_planes(n_rows)))
    ).localCheckpoint()
    found = cosine_pairs_lsh(vb, COS_DEDUP_T)
    hits = found.agg(F.count("*").cast("long").alias("hits"))
    denom = _allpairs_count_blocked(vb, COS_DEDUP_T).agg(
        F.sum("partial").cast("long").alias("denom")
    )
    num = F.col("hits") * 10000 * 2 + F.col("denom")
    den = F.col("denom") * 2
    return hits.crossJoin(F.broadcast(denom)).select(
        F.lit("lsh").alias("method"),
        "hits",
        "denom",
        ((num - num % den) / den).cast("long").alias("recall_bp"),
    )


ORACLE_COS_DEDUP_RECALL = f"""
    SELECT 'lsh' AS method, hits, denom,
           ((hits * 10000 * 2 + denom) // (denom * 2)) AS recall_bp
    FROM (
        SELECT (SELECT COUNT(*)::BIGINT FROM ({ORACLE_COS_DEDUP})) AS hits,
               (SELECT COUNT(*)::BIGINT FROM (
                   WITH v AS (
                       SELECT vec_id, {_SQL_IVEC} AS ivec,
                              list_sum(list_transform({_SQL_IVEC}, x -> x * x))::BIGINT AS norm2
                       FROM embeddings
                   )
                   SELECT 1
                   FROM v a JOIN v b ON a.vec_id < b.vec_id
                   WHERE list_sum(list_transform(range(1, 65),
                             i -> a.ivec[i] * b.ivec[i]))::BIGINT
                         / sqrt(a.norm2::DOUBLE * b.norm2::DOUBLE) >= {COS_DEDUP_T}
               )) AS denom
    )
"""


# --------------------------------------------------------------------------
# feature_scale — per-dimension min-max normalization, exact integer units
# --------------------------------------------------------------------------

FEATURE_SCALE_DIMS = 8


def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling over the first {FEATURE_SCALE_DIMS}
    embedding dimensions — the fit+transform preprocessing stage of any
    ML feature pipeline, as one distributed plan: per-dimension (min,
    max) statistics, then scaled = (v − lo)·10⁶ div (hi − lo) ∈
    [0, 10⁶], one output row per (vector, dimension).

    Exactness: values enter as the ×10⁷ integer embedding units shared
    with the ANN family (``_IVEC``), so the fit statistics and the
    affine transform are pure int64 arithmetic — no float mean/variance
    whose summation ORDER could differ between engines (min/max are
    order-free; this is why min-max rather than z-score is the exact
    variant — a z-score twin needs the same integerize-before-aggregate
    treatment for the mean).

    Scale: the dimension slice prunes the array BEFORE the explode; the
    stats aggregate is map-side-combinable to D rows, broadcast back
    onto the exploded stream — the same fit-table-broadcast shape a
    100 TB transform wants (fit once, transform anywhere, no shuffle of
    the data itself beyond the explode)."""
    e = load_table(spark, sf_dir, "embeddings")
    iv = e.select(
        "vec_id",
        F.posexplode(F.expr(f"slice({_IVEC}, 1, {FEATURE_SCALE_DIMS})")).alias(
            "dim", "v"
        ),
    )
    stats = iv.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    return (
        iv.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.expr(
                "CASE WHEN hi = lo THEN 0"
                " ELSE ((v - lo) * 1000000) div (hi - lo) END"
            ).alias("scaled_micro"),
        )
    )


ORACLE_FEATURE_SCALE = f"""
    WITH iv AS (
        SELECT vec_id, i - 1 AS dim, ivec[i] AS v
        FROM (SELECT vec_id,
                     list_slice({_SQL_IVEC}, 1, {FEATURE_SCALE_DIMS}) AS ivec
              FROM embeddings),
        LATERAL (SELECT unnest(generate_series(1, {FEATURE_SCALE_DIMS})) AS i)
    ),
    st AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM iv GROUP BY dim)
    SELECT vec_id, CAST(iv.dim AS BIGINT) AS dim,
           CASE WHEN hi = lo THEN 0
                ELSE ((v - lo) * 1000000) // (hi - lo) END AS scaled_micro
    FROM iv JOIN st ON iv.dim = st.dim
"""


# --------------------------------------------------------------------------
# power_iteration_pc — exact-integer top principal direction
# --------------------------------------------------------------------------

POWER_ITERS = 3


def q_power_iteration_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power
    iteration on the (uncentered) Gram matrix — the eigenvector
    primitive under spectral embedding pruning and PCA whitening,
    expressed so a DuckDB oracle replicates it BIT-FOR-BIT: the Gram
    moments G_ij = Σ x_i·x_j accumulate as exact integers from the
    shared ×10⁷ integerization, and each of the {POWER_ITERS}
    iterations renormalizes v ← G·v by the max-|component| with an
    INTEGRAL division instead of the usual L2 norm — so every iterate
    is an exact int64 vector and no float enters the recurrence at all.
    The sign is canonicalized (dim-0 component non-negative; both
    engines flip identically), and the Rayleigh quotient
    (vᵀGv) div (vᵀv) rides along as the eigenvalue estimate.

    Convergence is GAP-DEPENDENT and published, not promised: the
    synthetic embedding corpus is near-isotropic (λ₁/λ₂ ≈ 1.02 at
    sf0.01), so {POWER_ITERS} steps reach ~80% of λ_max by Rayleigh
    quotient rather than the top eigenvector itself — on a real
    corpus, whose leading direction dominates (λ₁/λ₂ ≫ 1, the reason
    PCA pruning works at all), the same {POWER_ITERS} steps converge.
    The published ``rayleigh_units`` IS the convergence audit (the
    ``cosine_dedup_recall`` convention): Rayleigh-Ritz bounds it above
    by λ_max, and each iteration increases it monotonically — both
    pinned in tests against numpy's eigendecomposition.

    Scale shape: the Gram build is one Arrow-batched ``mapInPandas``
    pass emitting EXACT int64 per-chunk partials (D² rows per 4000-row
    chunk — the chunk bound is the int64-overflow contract, asserted in
    code), reduced by a combinable groupBy bounded by D² = 4096 rows
    regardless of corpus size — the canonical moments-shuffle of
    distributed PCA, with the dense inner product in numpy where it
    belongs (the relational double-posexplode twin emitted D² rows per
    INPUT ROW: 20M at sf0.1, 6.9 s vs 3.9 s, same exact values). Each
    iteration is a D²-row⋈D-row broadcast join + a D-row aggregate:
    driver-side cost is O(D), never corpus-sized. At 100 TB only the
    one Gram pass touches data; the iterations are free."""
    e = load_table(spark, sf_dir, "embeddings")
    iv = e.select(F.expr(_IVEC).alias("iv"))

    def _partial_gram(it):
        import numpy as np
        import pandas as pd

        idx = np.indices((64, 64))
        ii, jj = idx[0].ravel(), idx[1].ravel()
        for pdf in it:
            X = np.array(pdf["iv"].tolist(), dtype=np.int64)
            if X.size == 0:
                continue
            # int64 matmul is EXACT iff rows·max²<2^63: |x_units|≤3e7 ⇒
            # product ≤ 9.2e14, so ≤4000-row chunks stay safe; the
            # chunk partials then sum JVM-side as DECIMAL(38,0).
            # The bound is the executable contract, not a comment:
            assert np.abs(X).max(initial=0) < 30_000_000, "embedding unit overflow"
            for s in range(0, len(X), 4000):
                G = X[s : s + 4000].T @ X[s : s + 4000]
                yield pd.DataFrame(
                    {"i": ii, "j": jj, "g_part": G.ravel()}
                )

    # Arrow-batched per-chunk Gram partials (the ann_ivf int64-matmul
    # precedent): D² rows per chunk instead of D² per INPUT ROW — the
    # double-posexplode twin of this build emitted 20M rows at sf0.1
    # (6.9 s); this emits ~4096·chunks (1.5 s), identical exact values.
    # The Gram table is referenced once per iteration plus once by the
    # Rayleigh numerator — {POWER_ITERS}+1 subtree copies. Un-materialized,
    # the STATIC plan duplicated the whole scan→mapInPandas→groupBy
    # pipeline into every copy (measured 918 Exchange / 226 scan / 226
    # MapInPandas nodes at sf0.1 — plans/r18/power_iteration_pc_before.txt),
    # leaving "one Gram pass" to runtime exchange reuse and paying
    # Catalyst/codegen for a ~1000-operator tree. One localCheckpoint of
    # the D²-row aggregate (≤4096 rows, corpus-independent) makes the
    # single data pass structural (guide §3.3/§5) and collapses the final
    # plan to a handful of exchanges. Blocks stay alive for the session —
    # bounded, the returned plan reads them (the ngram standalone-key
    # lifetime contract).
    gram = (
        iv.mapInPandas(_partial_gram, "i int, j int, g_part long")
        .groupBy("i", "j")
        .agg(F.sum(F.expr("CAST(g_part AS DECIMAL(38,0))")).alias("g"))
        .localCheckpoint()
    )
    v = spark.range(64).select(
        F.col("id").cast("int").alias("j"), F.lit(1_000_000).cast("long").alias("v")
    )
    for _ in range(POWER_ITERS):
        w = (
            gram.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * v")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("j"),
            F.expr("CAST(w * 1000000 div m AS BIGINT)").alias("v"),
        )
    sign = v.filter(F.col("j") == 0).select(
        F.when(F.col("v") < 0, -1).otherwise(1).alias("s")
    )
    # canon (D rows) feeds the numerator twice, the denominator, and the
    # returned projection — 4 copies of the 3-iteration join chain in the
    # static plan without this cut (same rationale as gram above).
    canon = v.crossJoin(F.broadcast(sign)).select(
        "j", (F.col("v") * F.col("s")).alias("comp_micro")
    ).localCheckpoint()
    num = (
        gram.join(canon.select(F.col("j"), F.col("comp_micro").alias("vj")), "j")
        .join(canon.select(F.col("j").alias("i"), F.col("comp_micro").alias("vi")), "i")
        .agg(F.sum(F.expr("CAST(vi AS DECIMAL(38,0)) * g * vj")).alias("num"))
    )
    den = canon.agg(
        F.sum(F.expr("CAST(comp_micro AS DECIMAL(38,0)) * comp_micro")).alias("den")
    )
    # vᵀGv/vᵀv ≈ n·10¹⁴ in raw units — rescale by 10⁸ BEFORE the int64
    # cast so the eigenvalue estimate survives any corpus size
    lam = num.crossJoin(F.broadcast(den)).select(
        F.expr("CAST((num div den) div 100000000 AS BIGINT)").alias(
            "rayleigh_units"
        )
    )
    return canon.crossJoin(F.broadcast(lam)).select(
        F.col("j").cast("long").alias("dim"), "comp_micro", "rayleigh_units"
    )


ORACLE_POWER_ITERATION = f"""
    WITH iv AS (
        SELECT {_SQL_IVEC} AS v FROM embeddings
    ), px AS (
        SELECT CAST(a.range AS INTEGER) AS i, v[a.range + 1] AS xi,
               CAST(b.range AS INTEGER) AS j, v[b.range + 1] AS xj
        FROM iv CROSS JOIN range(64) a CROSS JOIN range(64) b
    ), gram AS (
        SELECT i, j, SUM(CAST(xi AS HUGEINT) * xj) AS g
        FROM px GROUP BY i, j
    ), v0 AS (
        SELECT CAST(range AS INTEGER) AS j, 1000000::HUGEINT AS v
        FROM range(64)
    ), w1 AS (
        SELECT i, SUM(g * v) AS w FROM gram JOIN v0 USING (j) GROUP BY i
    ), v1 AS (
        SELECT i AS j, w * 1000000 // (SELECT MAX(ABS(w)) FROM w1) AS v FROM w1
    ), w2 AS (
        SELECT i, SUM(g * v) AS w FROM gram JOIN v1 USING (j) GROUP BY i
    ), v2 AS (
        SELECT i AS j, w * 1000000 // (SELECT MAX(ABS(w)) FROM w2) AS v FROM w2
    ), w3 AS (
        SELECT i, SUM(g * v) AS w FROM gram JOIN v2 USING (j) GROUP BY i
    ), v3 AS (
        SELECT i AS j, w * 1000000 // (SELECT MAX(ABS(w)) FROM w3) AS v FROM w3
    ), canon AS (
        SELECT j, v * (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
                       FROM v3 WHERE j = 0) AS comp_micro
        FROM v3
    ), lam AS (
        SELECT CAST(
            ((SELECT SUM(ca.comp_micro * g.g * cb.comp_micro)
              FROM gram g
              JOIN canon ca ON ca.j = g.i
              JOIN canon cb ON cb.j = g.j)
             // (SELECT SUM(comp_micro * comp_micro) FROM canon))
            // 100000000
            AS BIGINT) AS rayleigh_units
    )
    SELECT CAST(j AS BIGINT) AS dim, CAST(comp_micro AS BIGINT) AS comp_micro,
           rayleigh_units
    FROM canon CROSS JOIN lam
"""


QUERIES = {
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_trained": q_ann_ivf_trained,
    "embedding_cosine_dedup": q_embedding_cosine_dedup,
    "embedding_dup_clusters": q_embedding_dup_clusters,
    "cosine_dedup_recall": q_cosine_dedup_recall,
    "ann_recall": q_ann_recall,
    "feature_scale": q_feature_scale,
    "power_iteration_pc": q_power_iteration_pc,
}

ORACLE = {
    "ann_topk_bruteforce": ORACLE_ANN_TOPK,
    "ann_lsh_bucketed": ORACLE_ANN_LSH,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_ivf_trained": ORACLE_ANN_IVF_TRAINED,
    "embedding_cosine_dedup": ORACLE_COS_DEDUP,
    "embedding_dup_clusters": ORACLE_EMB_DUP_CLUSTERS,
    "cosine_dedup_recall": ORACLE_COS_DEDUP_RECALL,
    "ann_recall": _sql_recall(),
    "feature_scale": ORACLE_FEATURE_SCALE,
    "power_iteration_pc": ORACLE_POWER_ITERATION,
}
