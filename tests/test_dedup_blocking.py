"""Fixture tests for the blocked near-dedup operators.

These pin semantics the sf-scale oracle can't see on synthetic random data:
``embedding_cosine_dedup`` must find a KNOWN near-dup pair (its sf0.01
oracle result used to pass vacuously on 0 rows); the prefix-filtered
AllPairs candidate generation in ``ngram_jaccard_dedup`` must be LOSSLESS
at the j=0.5 subset edge its proof hinges on (the smallest common shingle
must land inside both docs' ⌊n/2⌋+1 prefixes) while emitting each
candidate exactly once even when docs share several prefix tokens; and
``minhash_lsh_pairs`` must collapse mass exact-duplicates BEFORE banding
so no single band bucket goes O(b²).
"""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.queries.text import (
    minhash_lsh_pairs,
    q_ngram_jaccard_dedup,
)
from imperio_patitas_etl_spark.queries.vector import (
    COS_DEDUP_T,
    q_embedding_cosine_dedup,
)


def test_ngram_prefix_filter_lossless_and_exactly_once(spark, tmp_path):
    docs = [
        # 2 shingles vs 4 shingles, A ⊂ B: j = 2/4 = 0.5 exactly — the
        # losslessness edge. B's prefix (⌊4/2⌋+1 = 3 of its 4 shingles)
        # must still hold a shingle shared with A.
        (1, "en", "w1 w2 w3 w4"),
        (2, "en", "w1 w2 w3 w4 w5 w6"),
        # identical twins share BOTH prefix tokens — the candidate (and
        # the output pair) must come out once, not twice.
        (3, "en", "x1 x2 x3 x4"),
        (4, "en", "x1 x2 x3 x4"),
        # same shingle count as doc 1, zero overlap: no candidate, no row.
        (5, "en", "z1 z2 z3 z4 z5"),
    ]
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = q_ngram_jaccard_dedup(spark, str(tmp_path))
    pairs = sorted((r.doc_a, r.doc_b, r.jaccard_bp) for r in out.collect())
    assert pairs == [(1, 2, 5000), (3, 4, 10000)]


def test_minhash_mass_duplicates_collapse_to_rep_edges(spark):
    """1k byte-identical docs share every band signature: without the
    exact pre-dedup one bucket's collect_list + pair explode is ~500k
    pairs in one task; with it, LSH sees ONE representative and the group
    returns as 999 (rep → member) edges computed relationally."""
    rows = [(i, "same exact duplicated text body repeated verbatim") for i in range(1000)]
    rows.append((2000, "a completely different document about other topics entirely"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_pairs(docs).collect()
    assert len(out) == 999
    assert all(r.doc_a == 0 and r.jaccard_bp == 10000 for r in out)
    assert sorted(r.doc_b for r in out) == list(range(1, 1000))


def test_cosine_dedup_finds_near_dups_and_prefilters_by_bucket(spark, tmp_path):
    # 4-dim fixture; vec_id 1-4 are the fixed hyperplane normals
    # (PLANE_PRED), so buckets are just sign bits per axis.
    rows = [
        (1, "p", [1.0, 0.0, 0.0, 0.0]),
        (2, "p", [0.0, 1.0, 0.0, 0.0]),
        (3, "p", [0.0, 0.0, 1.0, 0.0]),
        (4, "p", [0.0, 0.0, 0.0, 1.0]),
        # exact near-dups (same direction, different scale): cosine = 1.0,
        # identical sign pattern → same bucket → MUST be found.
        (10, "a", [1.0, 1.0, 0.0, 0.0]),
        (11, "a", [2.0, 2.0, 0.0, 0.0]),
        # cosine vs 10/11 ≈ 0.707 ≥ threshold, but the second axis sign
        # flips the bucket → the LSH prefilter must exclude the pair.
        (12, "a", [1.0, -0.001, 0.0, 0.0]),
    ]
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = q_embedding_cosine_dedup(spark, str(tmp_path))
    got = {(r.vec_a, r.vec_b): r.cosine for r in out.collect()}
    assert got[(10, 11)] == pytest.approx(1.0)
    assert (10, 12) not in got and (11, 12) not in got
    assert all(c >= COS_DEDUP_T for c in got.values())


def test_ngram_collapse_expands_groups_exactly(spark, tmp_path):
    """r16 shingle-set pre-collapse (VERDICT r15 item 1): identical
    (lang, shingle-set) groups run the AllPairs index ONCE per distinct
    set; member pairs come back via relational expansion. Pins the three
    expansion legs — intra-group cliques at jaccard 10000, cross-group
    member pairs inheriting the representatives' exact value, and the
    exclusions (empty shingle sets, NULL lang) that keep the collapse
    aligned with the JACCARD_T3 guard and the lang equi-join."""
    near_a = "w1 w2 w3 w4"          # 2 shingles
    near_b = "w1 w2 w3 w4 w5 w6"    # 4 shingles, j(A,B) = 2/4 = 0.5
    docs = [
        # group A: three identical copies
        (1, "en", near_a),
        (2, "en", near_a),
        (3, "en", near_a),
        # group B: two identical copies, near-dup of group A
        (4, "en", near_b),
        (5, "en", near_b),
        # identical SET under different lang: never pairs with group A
        (6, "fr", near_a),
        # empty shingle sets (< 3 tokens), identical: never pair
        (7, "en", "too short"),
        (8, "en", "too short"),
        # NULL lang twins: the lang equi-join semantics exclude them
        (9, None, "y1 y2 y3 y4"),
        (10, None, "y1 y2 y3 y4"),
    ]
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = q_ngram_jaccard_dedup(spark, str(tmp_path))
    pairs = sorted((r.doc_a, r.doc_b, r.jaccard_bp) for r in out.collect())
    assert pairs == sorted(
        [
            # intra-group cliques: C(3,2) in A, C(2,2) in B
            (1, 2, 10000), (1, 3, 10000), (2, 3, 10000), (4, 5, 10000),
            # cross-group expansion: 3 x 2 member pairs at the reps' j = 0.5
            (1, 4, 5000), (1, 5, 5000), (2, 4, 5000), (2, 5, 5000),
            (3, 4, 5000), (3, 5, 5000),
        ]
    )


def test_allpairs_count_blocked_matches_naive(spark):
    """The blocked numpy ground-truth counter equals a naive python count
    on a corpus that straddles blocks (n > RECALL_BLOCKS), including
    intra-block id ordering and the >= threshold boundary."""
    import itertools
    import math

    from pyspark.sql import functions as F

    from imperio_patitas_etl_spark.queries.vector import (
        RECALL_BLOCKS,
        _allpairs_count_blocked,
    )

    vecs = {
        i: [(i * 7 + j * 3) % 11 - 5 for j in range(4)] for i in range(20)
    }
    rows = [(i, v, sum(x * x for x in v)) for i, v in vecs.items()]
    v = spark.createDataFrame(
        rows, "vec_id long, ivec array<long>, norm2 long"
    )
    t = 0.45
    naive = sum(
        1
        for a, b in itertools.combinations(sorted(vecs), 2)
        if sum(x * y for x, y in zip(vecs[a], vecs[b]))
        / math.sqrt(float(sum(x * x for x in vecs[a])) * sum(x * x for x in vecs[b]))
        >= t
    )
    got = (
        _allpairs_count_blocked(v, t)
        .agg(F.sum("partial").alias("n"))
        .collect()[0]
        .n
    )
    assert 20 > RECALL_BLOCKS  # corpus straddles blocks by construction
    assert got == naive > 0
