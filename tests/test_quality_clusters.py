"""Fixture tests for the repetition-quality signals.

``quality_gopher`` is pinned on hand-computable documents including the
single-word edge case whose bigram denominator would otherwise divide by
zero.
"""

from __future__ import annotations

from imperio_patitas_etl_spark.queries.text import q_quality_gopher


def test_quality_gopher_hand_computed(spark, tmp_path):
    docs = [
        (1, "en", "src", "a a a a", 7),        # all dups, one bigram repeated
        (2, "en", "src", "a b c d", 7),        # no repetition at all
        (3, "en", "src", "hello", 5),          # single word: no bigrams
        (4, "en", "src", "x y x y x", 9),      # top token 3/5, bigram 2/4
    ]
    spark.createDataFrame(
        docs, "doc_id long, lang string, source string, text string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in q_quality_gopher(spark, str(tmp_path)).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.dup_token_bp, r1.top_token_bp, r1.top_bigram_bp) == (
        4, 7500, 10000, 10000,
    )
    r2 = out[2]
    # top bigram 1/3 → 3333.33 rounds half-up to 3333
    assert (r2.n_words, r2.dup_token_bp, r2.top_token_bp, r2.top_bigram_bp) == (
        4, 0, 2500, 3333,
    )
    r3 = out[3]
    assert (r3.n_words, r3.dup_token_bp, r3.top_token_bp, r3.top_bigram_bp) == (
        1, 0, 10000, 0,
    )
    r4 = out[4]
    # "x y" appears twice among 4 bigrams → 5000
    assert (r4.n_words, r4.dup_token_bp, r4.top_token_bp, r4.top_bigram_bp) == (
        5, 6000, 6000, 5000,
    )


def test_gopher_kernel_matches_hof_ladder_exactly(spark, sf_dir):
    """The r18 Arrow kernel (``_gopher_rep_stats``) must be bit-identical
    to the higher-order-aggregate ladder it replaced
    (``_rep_stats_expr``), on the real corpus AND on adversarial tokens
    (consecutive/trailing spaces -> empty-string tokens, single words,
    empty text, heavy repetition past every order)."""
    from pyspark.sql import functions as F

    from imperio_patitas_etl_spark.queries.text import (
        GOPHER_DUP_NS,
        GOPHER_TOP_NS,
        _GOPHER_STATS_SCHEMA,
        _gopher_rep_stats,
        _rep_stats_expr,
    )
    from imperio_patitas_etl_spark.sources.parquet import load_table

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    adversarial = spark.createDataFrame(
        [
            (10_001, "a  b   c a  b"),   # empty-string tokens
            (10_002, " leading"),
            (10_003, "trailing "),
            (10_004, ""),
            (10_005, "w"),
            (10_006, "r r r r r r r r r r r r"),  # dups at every order
        ],
        "doc_id long, text string",
    )
    base = corpus.unionByName(adversarial).select(
        "doc_id", F.split("text", " ").alias("words")
    )
    kern = base.mapInPandas(_gopher_rep_stats, _GOPHER_STATS_SCHEMA)
    ladder = base.select(
        "doc_id",
        F.size("words").cast("long").alias("n"),
        (F.size("words") - F.size(F.array_distinct("words")))
        .cast("long")
        .alias("n_dup"),
        *[
            c
            for g in (*GOPHER_TOP_NS, *GOPHER_DUP_NS)
            for c in (
                F.expr(_rep_stats_expr(g))[f"mx"].cast("long").alias(f"mx{g}"),
                F.expr(_rep_stats_expr(g))["dup"].cast("long").alias(f"dup{g}"),
            )
        ],
    )
    assert kern.exceptAll(ladder).count() == 0
    assert ladder.exceptAll(kern).count() == 0


def test_gopher_kernel_short_doc_small_batch_fuzz():
    """Small batches must count exactly too: the gram-pair packing is
    ``gid * k_tok + tok_id`` — multiplying by anything smaller (e.g. the
    (g-1)-gram id range, as a pre-r19 version did) collides distinct
    (gid, tok) pairs whenever a batch holds fewer distinct (g-1)-grams
    than distinct tokens, merging distinct n-grams and inflating
    mx{g}/dup{g}. 500 random short-doc corpora vs a brute-force
    Counter oracle (the buggy packing failed 71/500 of exactly these)."""
    import random
    from collections import Counter

    import pandas as pd

    from imperio_patitas_etl_spark.queries.text import (
        GOPHER_DUP_NS,
        GOPHER_TOP_NS,
        _gopher_rep_stats,
    )

    orders = (*GOPHER_TOP_NS, *GOPHER_DUP_NS)

    def brute(docs):
        rows = []
        for doc_id, toks in docs:
            row = {
                "doc_id": doc_id,
                "n": len(toks),
                "n_dup": len(toks) - len(set(toks)),
            }
            for g in orders:
                c = Counter(
                    tuple(toks[i : i + g]) for i in range(len(toks) - g + 1)
                )
                row[f"mx{g}"] = max(c.values()) if c else 0
                row[f"dup{g}"] = sum(v for v in c.values() if v > 1)
            rows.append(row)
        return pd.DataFrame(rows)

    rng = random.Random(42)
    for _ in range(500):
        docs = [
            (i, [f"t{rng.randint(0, 40)}" for _ in range(rng.randint(0, 12))])
            for i in range(rng.randint(1, 12))
        ]
        pdf = pd.DataFrame(
            {"doc_id": [d for d, _ in docs], "words": [w for _, w in docs]}
        )
        out = (
            pd.concat(list(_gopher_rep_stats(iter([pdf]))), ignore_index=True)
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        exp = brute(docs).sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(
            out, exp.astype(out.dtypes.to_dict()), check_like=True
        )
