"""The co-purchase materialized-edge path: ``materialize_edge_table`` +
``copurchase_family_from_edges`` must return EXACTLY the five
registry-key results — the pipeline shape (build the pair relation
once, read it as a table) is only safe as a product API if the
pair-build subtree is the one thing that differs between the two paths.
"""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.queries import affinity


def test_family_from_edges_matches_registry(spark, sf_dir, tmp_path):
    edge_path = str(tmp_path / "copurchase_edges")
    affinity.materialize_edge_table(spark, sf_dir, edge_path)

    fam = affinity.copurchase_family_from_edges(spark, sf_dir, edge_path)
    assert set(fam) == {
        "item_cooccurrence",
        "pagerank_copurchase",
        "triangle_count",
        "node_jaccard_linkpred",
        "khop_reach",
    }
    for key, df in fam.items():
        registry_df = affinity.QUERIES[key](spark, sf_dir)
        assert df.columns == registry_df.columns, key
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(tuple(r) for r in registry_df.collect())
        assert got == want and len(got) > 0, key


def test_edge_table_schema_is_the_pair_relation(spark, sf_dir, tmp_path):
    """The layout carries the support counts — consumers apply their own
    support threshold, so ONE table serves every family member (and a
    future member with a different MIN_PAIR_SUPPORT)."""
    edge_path = str(tmp_path / "copurchase_edges")
    affinity.materialize_edge_table(spark, sf_dir, edge_path)
    pairs = spark.read.parquet(edge_path)
    assert set(pairs.columns) == {"part_a", "part_b", "pair_cnt"}
    # unordered pair canonical form: part_a < part_b, each pair once
    from pyspark.sql import functions as F

    assert pairs.filter(F.col("part_a") >= F.col("part_b")).count() == 0
    assert pairs.groupBy("part_a", "part_b").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_family_from_edges_rejects_mismatched_source(spark, sf_dir, tmp_path):
    """item_cooccurrence mixes the edge relation with basket statistics
    rebuilt from sf_dir; an edge table materialized from a DIFFERENT
    source must be refused, not silently blended (ADVICE r10). The
    provenance tag rides the parquet footer schema's field metadata, so
    it survives the write/read round-trip with no sidecar file."""
    edge_path = str(tmp_path / "copurchase_edges")
    affinity.materialize_edge_table(spark, sf_dir, edge_path)

    # same source, trailing slash: normalized, accepted
    fam = affinity.copurchase_family_from_edges(spark, sf_dir + "/", edge_path)
    assert set(fam) == {
        "item_cooccurrence",
        "pagerank_copurchase",
        "triangle_count",
        "node_jaccard_linkpred",
        "khop_reach",
    }

    other = str(tmp_path / "definitely_not_the_source_sf_dir")
    with pytest.raises(ValueError, match="materialized from"):
        affinity.copurchase_family_from_edges(spark, other, edge_path)


def test_family_from_edges_rejects_untagged_table(spark, sf_dir, tmp_path):
    """A pair relation written outside materialize_edge_table carries no
    provenance tag — refuse it rather than guess."""
    edge_path = str(tmp_path / "plain_edges")
    from imperio_patitas_etl_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    affinity._copurchase_pairs(li).write.mode("overwrite").parquet(edge_path)
    with pytest.raises(ValueError, match="materialized from"):
        affinity.copurchase_family_from_edges(spark, sf_dir, edge_path)


def test_materialize_edge_table_is_idempotent(spark, sf_dir, tmp_path):
    """Re-materializing over an existing path must CONVERGE (overwrite
    semantics) — the repo-wide idempotent-writer contract. An accidental
    switch to append mode would double every pair_cnt row here."""
    edge_path = str(tmp_path / "copurchase_edges")
    affinity.materialize_edge_table(spark, sf_dir, edge_path)
    first = sorted(tuple(r) for r in spark.read.parquet(edge_path).collect())
    affinity.materialize_edge_table(spark, sf_dir, edge_path)
    second = sorted(tuple(r) for r in spark.read.parquet(edge_path).collect())
    assert first == second and len(first) > 0
