"""Rep-graph connected components vs the full pair-list cliques
(VERDICT r17 item 1, extended in r18): the cluster consumers
(``dup_clusters`` / ``dup_clusters_star`` / ``corpus_keep_list``) run CC
over the REPRESENTATIVE graph only (near-dup rep pairs as CC's edge set,
members labeled through their gid by one join afterwards in
``_labels_from_rep_cc``), instead of feeding CC
``_pairs_from_grouped``'s C(b,2) cliques (r16) or per-member star edges
(r17), which only the pair-LIST key (``ngram_jaccard_dedup``)
contractually needs. These tests pin the equivalence proof on the regime
that motivates it: a mass-duplication fixture with a ≥1,000-copy
duplicate class.

Also pins the two r17 ADVICE hardenings on the tagger path:
the member map stays one row per doc_id even for a (contract-violating)
duplicated input doc_id, and the shingle-set fingerprint encodes NULL
array elements with an explicit sentinel instead of silently dropping
the length prefix.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.checkpoint import release
from imperio_patitas_etl_spark.operators.graph import connected_components
from imperio_patitas_etl_spark.queries import text
from imperio_patitas_etl_spark.queries.text import (
    _labels_from_rep_cc,
    _member_map,
    _narrow_of,
    _pairs_from_grouped,
    _pairs_from_shingled,
    _shingle_set_fp,
    _shingled,
)

# mass-duplication corpus: one 1,200-copy boilerplate class, a 3-copy
# near-duplicate of it (Jaccard vs the boilerplate = 3/4 ≥ 0.5: shingle
# sets {a b c, b c d, c d e} vs + {d e f}), an unrelated singleton, an
# empty text, and a NULL-lang duplicate pair (excluded from the member
# map by the qualifying filter / from rep pairs by the lang equi-join).
BOILER = "a b c d e"
NEAR = "a b c d e f"
N_BOILER = 1_200


def _fixture(spark):
    rows = [(i, "en", BOILER) for i in range(N_BOILER)]
    rows += [(2_000 + i, "en", NEAR) for i in range(3)]
    rows += [(3_000, "en", "x y z w v u t"), (3_001, "en", "")]
    rows += [(4_000, None, "p q r s t"), (4_001, None, "p q r s t")]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _label_all(ids, edges):
    """(doc_id, cluster_id) for every id in ``ids``: CC over ``edges``,
    and each id CC leaves out labels itself."""
    return ids.join(connected_components(edges), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


def _grouped(spark, docs):
    """(groups, member_map) via ``_grouped_build`` over a synthetic
    corpus."""
    s = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("__t")
    ).select(
        "doc_id", "lang", F.expr(text._shingles_of("__t")).alias("shingles")
    )
    groups, member_map = text._grouped_build(s)
    return groups, member_map


def test_rep_cc_gives_identical_components_on_mass_duplication(spark):
    docs = _fixture(spark)
    groups, member_map = _grouped(spark, docs)
    ids = docs.select("doc_id")

    clique = _label_all(
        ids, _pairs_from_grouped(groups, member_map).select("doc_a", "doc_b")
    )
    rep_pairs = (
        _pairs_from_shingled(groups).select("doc_a", "doc_b").localCheckpoint()
    )
    rep = _labels_from_rep_cc(
        ids,
        member_map.filter("qual").select("doc_id", "gid"),
        connected_components(rep_pairs),
    )
    release(rep_pairs)

    got = sorted(tuple(r) for r in rep.collect())
    want = sorted(tuple(r) for r in clique.collect())
    assert got == want
    # sanity on the fixture: boilerplate + near-dup collapse to ONE
    # cluster labeled by the minimum doc_id; NULL-lang docs and the
    # empty text stay singletons.
    labels = dict(got)
    assert labels[0] == 0 and labels[N_BOILER - 1] == 0 and labels[2_001] == 0
    assert labels[3_000] == 3_000 and labels[3_001] == 3_001
    assert labels[4_000] == 4_000 and labels[4_001] == 4_001


def test_rep_graph_loop_input_is_constant_in_class_size(spark):
    """CC's edge input is ONE rep pair (boilerplate rep 0 —
    near-dup rep 2000) regardless of the b=1,200 class size, where the
    pair list carries its C(1200,2)=719,400 clique and the r17 star
    build carried b−1 member edges per class into CC. The member map is
    one skinny row per qualifying doc, touched once after CC. Exact counts pinned so a regression that
    reintroduces per-member rows into the CC path cannot pass
    silently."""
    docs = _fixture(spark)
    groups, member_map = _grouped(spark, docs)

    rep_pairs = _pairs_from_shingled(groups)
    members = member_map.filter("qual").select("doc_id", "gid")
    pair_edges = _pairs_from_grouped(groups, member_map)

    assert rep_pairs.count() == 1
    # 1200 boilerplate + 3 near-dup + 1 qualifying singleton
    assert members.count() == N_BOILER + 3 + 1
    # the WIDE checkpointed relation is one row per distinct (lang,
    # shingle-set) group — boilerplate, near-dup, singleton, empty,
    # NULL-lang — not one per member (r19: the r16-r18 tagged build
    # materialized every member's full shingle array)
    assert groups.count() == 5
    # clique: C(1200,2) + C(3,2) intra + 1200·3 cross expansion
    expected_clique = (
        N_BOILER * (N_BOILER - 1) // 2 + 3 + N_BOILER * 3
    )
    assert pair_edges.count() == expected_clique


def test_member_map_is_row_unique_on_duplicated_doc_id(spark):
    """The member map aggregates to EXACTLY one row per doc_id, and the
    grouped build keeps one rep row per doc_id, so a duplicated doc_id
    in an externally materialized shingle table cannot multiply rows
    through the rep-pair index or the pair-expansion joins."""
    s = spark.createDataFrame(
        [
            (1, "en", ["a", "b"]),
            (1, "en", ["a", "b"]),  # contract-violating duplicate key
            (2, "en", ["a", "b"]),
        ],
        "doc_id long, lang string, shingles array<string>",
    )
    mm = _member_map(_narrow_of(s))
    assert mm.count() == 2  # one row per DISTINCT doc_id
    # both docs carry the single group gid and qualify
    rows = {r.doc_id: (r.gid, r.qual) for r in mm.collect()}
    assert rows == {1: (1, True), 2: (1, True)}
    # the production build: one rep row per group despite the repeated
    # doc_id, and every pair emitted exactly once
    s = s.union(
        spark.createDataFrame(
            [(3, "en", ["a", "b", "c"]), (3, "en", ["a", "b", "c"])],
            s.schema,
        )
    )
    groups, member_map = text._grouped_build(s)
    assert sorted(r.doc_id for r in groups.collect()) == [1, 3]
    pairs = sorted(
        tuple(r) for r in _pairs_from_grouped(groups, member_map).collect()
    )
    # {a,b} vs {a,b,c}: |∩| = 2, |∪| = 3 → jaccard 6667 bp
    assert pairs == [(1, 2, 10000), (1, 3, 6667), (2, 3, 6667)]


def test_fp_encodes_null_elements_explicitly(spark):
    """ADVICE r17: a NULL array element encodes as the '~' sentinel, so
    injectivity holds without the no-NULL-element input contract; the
    sentinel is distinct from every real netstring (those start with a
    decimal digit), and non-NULL encodings are unchanged."""
    rows = [
        (1, [None]),
        (2, [""]),  # "0:"  — the nearest non-NULL neighbour
        (3, []),  # empty stream
        (4, ["a", None]),
        (5, ["a"]),
        (6, ["~"]),  # a literal tilde TOKEN: "1:~", not the sentinel
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    fps = {
        r.doc_id: bytes(r.fp)
        for r in df.select(
            "doc_id", _shingle_set_fp("shingles").alias("fp")
        ).collect()
    }
    assert len(set(fps.values())) == len(fps), "fingerprints must be distinct"


def test_registry_cluster_keys_share_components_with_pair_list(spark, sf_dir):
    """End-to-end on real data: the registry cluster key (rep-graph CC)
    equals CC over the full pair list — the clique-vs-rep equivalence on
    the actual corpus, not just the synthetic fixture."""
    groups, member_map = text._grouped_build(_shingled(spark, sf_dir))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    want = sorted(
        tuple(r)
        for r in _label_all(
            docs,
            _pairs_from_grouped(groups, member_map).select("doc_a", "doc_b"),
        ).collect()
    )
    got = sorted(
        tuple(r) for r in text.q_dup_clusters(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_set_fingerprint_separator_adversarial_grouping(spark):
    """The r17 collapse key (VERDICT r16 item 2): ``_member_map``
    groups on a 32-byte netstring-encoded sha2-256 of the sorted shingle
    array instead of the array itself. This pins grouping EQUIVALENCE
    with exact array equality on the token shapes that break every naive
    separator join — tokens containing the ':' delimiter, empty tokens,
    and tokens starting with digits (which attack the length prefix
    itself). Each adversarial pair below collides under at least one
    naive encoding; none may collide under the netstring fingerprint."""
    from pyspark.sql import functions as F

    rows = [
        # (doc_id, lang, shingles) — pairs crafted to collide naively:
        # colon-join collision: "a:b"+"c" vs "a"+"b:c" both join to "a:b:c"
        (1, "es", ["a:b", "c"]),
        (2, "es", ["a", "b:c"]),
        # empty-separator collision: "ab"+"" vs "a"+"b" both concat to "ab"
        (3, "es", ["ab", ""]),
        (4, "es", ["a", "b"]),
        # length-prefix attack: token starting with "digits:" — netstring
        # "3:1:a" vs "1:12::a" stay distinct
        (5, "es", ["1:a"]),
        (6, "es", [":a", "1"]),
        # true duplicates: same set, different element order and dup doc
        (7, "es", ["x y z", "y z w"]),
        (8, "es", ["y z w", "x y z"]),
        (9, "es", ["x y z", "y z w"]),
        # same set, different lang → different group
        (10, "en", ["x y z", "y z w"]),
        # empty sets collapse together (excluded from cliques downstream)
        (11, "es", []),
        (12, "es", []),
    ]
    s = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    got = {
        r["doc_id"]: r["gid"]
        for r in text._member_map(text._narrow_of(s)).collect()
    }
    # exact-equality reference grouping, computed driver-side
    ref_gid: dict[tuple, int] = {}
    want = {}
    for doc_id, lang, sh in rows:
        key = (lang, tuple(sorted(sh)))
        ref_gid.setdefault(key, doc_id)
        want[doc_id] = ref_gid[key]
    assert got == want
    # and the fingerprint column itself is injective on these sets
    fps = [
        r[0]
        for r in s.select(text._shingle_set_fp("shingles")).collect()
    ]
    by_set: dict[tuple, bytes] = {}
    for (doc_id, lang, sh), fp in zip(rows, fps):
        key = tuple(sorted(sh))
        if key in by_set:
            assert by_set[key] == fp, (doc_id, key)
        else:
            assert fp not in by_set.values(), (doc_id, key)
            by_set[key] = fp
    assert len(fps[0]) == 32  # fixed 32-byte (sha2-256) group key
