"""Text-analysis + dedup operators over the ``documents`` table.

Large-scale training-data pipeline surface (SURVEY.md §7 phase 3 /
BASELINE.json north star): token counting, quality scoring, language-ID,
fingerprinting, exact dedup, n-gram Jaccard near-dedup, deterministic
MinHash-LSH, and SimHash.

Everything is built from built-in Spark SQL expressions (split / transform /
aggregate / array_* higher-order functions) — JVM-side, no Python UDFs — and
every query has an exact DuckDB oracle: hashing is md5-prefix→int (identical
in both engines, verified), ratios are exact integer basis points, and the
MinHash permutations are fixed constants replicated in the SQL.

Scale notes (100 TB):
- shingling/minhash are per-row narrow transforms — fully parallel, no
  shuffle until the band-bucket join;
- LSH banding turns the O(n²) pair space into an equi-join on (band_idx,
  band_signature) — the standard shuffle-bounded near-dedup at scale;
- the n-gram variant generates candidates from a prefix-filtered inverted
  index (AllPairs/PPJoin) — lossless for Jaccard ≥ 0.5, so its results are
  provably identical to the all-pairs oracle at a fraction of the pair work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.operators.checkpoint import release
from imperio_patitas_etl_spark.sources.parquet import load_table

# MinHash constants — fixed, mirrored literally into the oracle SQL.
P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)
PERMS = [
    (1_000_003, 12_345),
    (999_983, 54_321),
    (1_000_033, 98_765),
    (999_979, 13_579),
    (1_000_037, 24_680),
    (999_961, 11_111),
    (1_000_039, 22_222),
    (999_959, 33_333),
]
N_BANDS = 4  # bands of 2 signatures each
# Jaccard ≥ 0.5 on 3-gram shingles. The n_a + n_b > 0 guard excludes
# empty-vs-empty pairs (docs under 3 words): without it the all-pairs
# oracle admits them (3·0 ≥ 0) and divides by a zero union — DuckDB errors
# where Spark's candidate generation simply never pairs shingle-less docs.
JACCARD_T3 = "3 * n_inter >= n_a + n_b AND n_a + n_b > 0"

#: Spark-side md5-prefix→int (60-bit, fits signed 64); DuckDB twin below.
_MD5INT = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def _sql_md5int(x: str) -> str:
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


# --------------------------------------------------------------------------
# tokenization / quality / language-ID / fingerprint
# --------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (`[A-Za-z0-9]+` runs and
    single punctuation marks) per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+")).cast("long").alias("word_tokens"),
        F.regexp_count(F.col("text"), F.lit("[^A-Za-z0-9\\s]")).cast("long").alias("punct_tokens"),
    )


ORACLE_TOKEN_COUNT = """
    SELECT doc_id,
           len(regexp_split_to_array(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
           len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_tokens
    FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: word count, avg word length (×100),
    stopword ratio in basis points — all exact integer arithmetic so the
    oracle agrees bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("words", F.split(F.col("text"), " "))
    n_words = F.size("words").cast("long")
    n_alpha = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    n_stop = F.size(
        F.filter(F.col("words"), lambda w: w.isin("the", "a"))
    ).cast("long")
    # half-up integer division: (2·num + den) div (2·den), via x − x mod d
    awl_num = n_alpha * 100 * 2 + n_words
    awl_den = n_words * 2
    stop_num = n_stop * 10000 * 2 + n_words
    stop_den = n_words * 2
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        ((awl_num - awl_num % awl_den) / awl_den).cast("long").alias("avg_word_len_x100"),
        ((stop_num - stop_num % stop_den) / stop_den).cast("long").alias("stopword_bp"),
    )


ORACLE_QUALITY_SCORE = """
    SELECT doc_id, n_words,
           ((n_alpha * 100 * 2 + n_words) // (n_words * 2)) AS avg_word_len_x100,
           ((n_stop * 10000 * 2 + n_words) // (n_words * 2)) AS stopword_bp
    FROM (
        SELECT doc_id,
               len(regexp_split_to_array(text, ' '))::BIGINT AS n_words,
               length(replace(text, ' ', ''))::BIGINT AS n_alpha,
               len(list_filter(regexp_split_to_array(text, ' '),
                               w -> w IN ('the', 'a')))::BIGINT AS n_stop
        FROM documents
    )
"""


#: Per-language stopword-marker sets (most-frequent function words). The
#: priority order of this dict is the deterministic tie-break: on equal
#: vote counts the earlier language wins.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
    "zh": ("的", "是", "在", "了", "和"),
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: per-language stopword-marker VOTING —
    each language's marker-token count votes; argmax wins, ties break by
    the fixed LANG_MARKERS priority order, zero votes → 'unk'. Reported as
    a confusion count against the labeled ``lang`` column. (The synthetic
    corpus draws the same pseudo-English vocabulary for every label, so
    the matrix honestly shows en-or-unk predictions — the lens is real,
    the corpus is not.)"""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def _vote(markers: tuple[str, ...]):
        # closure factory, NOT a default arg: F.filter inspects the
        # lambda's arity, and a second parameter would make it pass the
        # array index as `markers`
        return lambda w: w.isin(*markers)

    votes = {
        lang: F.size(F.filter(words, _vote(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*votes.values())
    pred = F.when(best == 0, F.lit("unk"))
    for lang in LANG_MARKERS:
        pred = pred.when(votes[lang] == best, F.lit(lang))
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _sql_lang_votes() -> str:
    def vote(markers: tuple[str, ...]) -> str:
        inlist = ", ".join(f"'{m}'" for m in markers)
        return f"len(list_filter(regexp_split_to_array(text, ' '), w -> w IN ({inlist})))"

    votes = {lang: vote(m) for lang, m in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(votes.values()) + ")"
    arms = "\n                ".join(
        f"WHEN {votes[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
    SELECT lang,
           CASE WHEN {best} = 0 THEN 'unk'
                {arms}
           END AS pred_lang,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-bit content fingerprint of whitespace-normalized
    lowercase text (rolling-hash analog, md5-based for oracle parity)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), "\\s+", " "))
    fp = F.expr(_MD5INT.format(x="lower(regexp_replace(trim(text), '\\\\s+', ' '))"))
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.length(norm).cast("long").alias("norm_len")
    )


_SQL_NORM_TEXT = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SQL_FP = _sql_md5int(_SQL_NORM_TEXT)

ORACLE_DOC_FINGERPRINT = f"""
    SELECT doc_id,
           {_SQL_FP} AS fingerprint,
           length({_SQL_NORM_TEXT}) AS norm_len
    FROM documents
"""


# --------------------------------------------------------------------------
# dedup: exact / n-gram Jaccard / MinHash-LSH / SimHash
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint: hash groupBy keeping
    the lowest doc_id (map-side combinable — the cheapest dedup at scale)."""
    fp = q_doc_fingerprint(spark, sf_dir)
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups")
    )


ORACLE_DEDUP_EXACT = f"""
    SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM (
        SELECT doc_id, {_SQL_FP} AS fingerprint
        FROM documents
    ) GROUP BY fingerprint
"""


#: Spark expr: distinct word 3-gram shingles over a PRE-SPLIT token
#: array column. Catalyst does not CSE into lambda scopes, so a
#: ``split(text)`` inside the transform body would re-tokenize the
#: document once per shingle — O(tokens²) string work per row (measured
#: 6× on bpe_pair_merge before the same fix); callers project
#: ``split(text, ' ')`` once and pass the array column's name.
def _shingles_of(arr: str) -> str:
    return (
        f"CASE WHEN size({arr}) >= 3 THEN "
        f"array_distinct(transform(sequence(0, size({arr}) - 3),"
        f" i -> array_join(slice({arr}, i + 1, 3), ' '))) "
        "ELSE array() END"
    )
#: DuckDB twin (1-based inclusive list slicing).
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(text, ' ')) - 1, 1)),"
    " i -> array_to_string((regexp_split_to_array(text, ' '))[i:i+2], ' ')))"
)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", F.split("text", " ").alias("__t")
    ).select("doc_id", "lang", F.expr(_shingles_of("__t")).alias("shingles"))


def _ngram_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-build stage of the ``ngram_jaccard_dedup`` key: the lazy
    near-dup-pair plan over the grouped build.

    The shingled relation is ``localCheckpoint``-ed ONCE: it feeds the
    document-frequency aggregate, the prefix index, and BOTH verify
    sides, and Catalyst does not CSE across those subtrees — un-
    checkpointed, the split+transform+array_distinct pipeline ran ~4× per
    query (measured 4.4 s → 1.8 s at sf0.1 for the standalone key). At
    warehouse scale this materialization is the write-once AllPairs index
    table SCALE.md describes; in-session it is block-manager-backed, and
    the returned plan reads it, so its blocks outlive the call until the
    harness frees them.

    IDENTICAL SHINGLE SETS ARE COLLAPSED FIRST (the minhash hot-bucket
    fix applied to the AllPairs key): Jaccard is a function of the
    shingle SET alone, so documents with identical (lang,
    sorted-shingle-array) group keys are interchangeable. The
    AllPairs index runs over one representative per distinct set; a
    qualifying representative pair expands relationally to all member
    cross pairs (same jaccard_bp, exactly), and each non-empty group of
    b identical sets contributes its C(b,2) clique at jaccard 10000
    (n_inter = n_union ⇒ floor((2·10000·n + n)/2n) = 10000; empty sets
    and NULL langs are excluded, matching the JACCARD_T3 guard and the
    lang equi-join). On a corpus with mean duplicate multiplicity m the
    index work drops m² — the audit measured the replicated sf1 tree at
    output 2,948× / candidates 114× for 10× input precisely because
    every text has 10 byte-identical copies; mass duplication is the
    expected 100 TB regime, and this pre-collapse makes the quadratic
    term scale with DISTINCT texts only while the emitted clique pairs
    stay output-bounded.
    """
    groups, member_map = _grouped_build(_shingled(spark, sf_dir))
    return _pairs_from_grouped(groups, member_map)


def _grouped_build(s: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Group-collapse + checkpoint stage over a shingled relation ``s``
    (doc_id, lang, shingles) — the ONE build path of the ngram-Jaccard
    family. The registry keys pass ``_shingled(spark, sf_dir)``.
    Returns ``(groups, member_map)``:

    - ``groups`` — ONE wide (doc_id, lang, shingles) row per distinct
      (lang, shingle-set) group (the representative rows), checkpointed;
    - ``member_map`` — skinny (doc_id, gid, qual) for EVERY document
      (qual = can carry edges: non-empty shingles, non-NULL lang —
      group-uniform), checkpointed.

    Only the representative rows carry shingle arrays: the AllPairs
    index/verify reads rep arrays only, the cross/intra expansions and
    the CC member labeling read (doc_id, gid) only, so the wide
    checkpoint scales with DISTINCT texts (guide §2.3 — shuffle/persist
    keys and metadata, not payloads).

    NO corpus-wide array relation is ever materialized: the transient
    checkpoint feeding the group collapse is the SKINNY narrow
    projection (doc_id, lang, fp, qual — the fingerprint pass consumes
    it twice, aggregate branch + join-back, and Catalyst does not CSE
    across the fork), released the moment the member map lands. The rep
    arrays for ``groups`` come from a SECOND evaluation of ``s`` joined
    to the rep ids — one extra columnar pass in place of a full-corpus
    wide checkpoint (guide §8 — re-read from storage rather than
    materialize payloads). The rep rows are deduplicated on doc_id: the
    member map is row-unique per doc_id, but a documents table with a
    repeated doc_id (the parquet is outside input) would otherwise emit
    its rep row once per copy and every pair of that rep twice."""
    narrow_ck = _narrow_of(s).localCheckpoint()
    member_map = _member_map(narrow_ck).localCheckpoint()
    release(narrow_ck)
    groups = (
        s.join(
            member_map.filter(F.col("doc_id") == F.col("gid")).select("doc_id"),
            "doc_id",
        )
        .dropDuplicates(["doc_id"])
        .localCheckpoint()
    )
    return groups, member_map


def _clusters_via_rep_cc(
    spark: SparkSession, sf_dir: str, cc_fn
) -> DataFrame:
    """Duplicate clustering for the cluster consumers (``dup_clusters``
    / ``dup_clusters_star`` / ``corpus_keep_list``): connected
    components over the REPRESENTATIVE graph only, members labeled
    through their group id afterwards. Feeding (gid, member) star
    edges into the CC loop instead would carry one row PER QUALIFYING
    DOCUMENT through every round — O(rounds · n) shuffled rows at 100 TB
    just to tell each member what its gid already says. Here the
    iterative loop sees only the near-dup REP pairs (the output-bounded
    AllPairs result), and membership is applied once, outside the loop,
    as a single equi-join on gid (guide §2.3 — shuffle keys and
    metadata, move the bulk exactly once).

    PROOF the output equals CC over the full pair list (the oracle's
    transitive closure): qualification (non-empty shingles, non-NULL
    lang) is group-uniform, so the full edge set touches exactly the
    qualifying docs; its components are unions of identical-set groups
    connected through rep pairs (a cross pair (m_a, m_b) exists iff the
    rep pair (gid_A, gid_B) does; intra pairs stay inside one group).
    A component's label is its minimum doc_id = the minimum gid of its
    groups (gid is each group's min member) = the min-label CC result
    over the rep graph. Therefore: qualifying member → rep-CC label of
    its gid (own gid when the rep is pairless and absent from the rep
    graph); non-qualifying doc → no edges anywhere → itself. Pinned
    clique-vs-rep-CC on a ≥1,000-copy duplicate class in
    tests/test_cc_star_edges.py and end-to-end on real data.

    Lifetime: the returned plan reads the skinny (doc_id, gid, qual)
    member checkpoint and the CC label checkpoint; the star
    contraction's also reads the rep pairs, through its endpoint seed.
    Plain CC's labels do not, so its rep-pair checkpoint is released
    here once the labels exist. The wide rep arrays (``groups``) are
    released the moment the rep pairs are materialized — no wide
    relation outlives the build."""
    groups, member_map = _grouped_build(_shingled(spark, sf_dir))
    members = member_map.filter("qual").select("doc_id", "gid")
    # rep-pair checkpoint: the AllPairs index+verify pass runs exactly
    # once — both the CC edge input and the endpoint seed read it (an
    # un-checkpointed plan would re-run the index for the seed relation)
    rep_pairs = (
        _pairs_from_shingled(groups)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    release(groups)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _labels_from_rep_cc(docs, members, rep_pairs, cc_fn)
    if cc_fn is connected_components:
        release(rep_pairs)
    return labels


def _labels_from_rep_cc(
    docs: DataFrame, members: DataFrame, rep_pairs: DataFrame, cc_fn
) -> DataFrame:
    """(doc_id, cluster_id) from rep-level connected components: run
    ``cc_fn`` over the rep-pair endpoints only, then label every
    qualifying member through its gid, everything else with itself
    (equivalence proof at ``_clusters_via_rep_cc``). ``members`` and
    ``rep_pairs`` must be cheap to evaluate repeatedly (checkpointed or
    parquet-backed): ``cc_fn`` reads the edges and the endpoint seed,
    and the returned plan reads ``members`` (plus, for the star
    contraction, the endpoint seed again). A checkpointed ``rep_pairs``
    is the caller's to free once the result no longer reads it."""
    endpoints = (
        rep_pairs.select(F.col("doc_a").alias("doc_id"))
        .union(rep_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    rep_cc = cc_fn(
        endpoints, rep_pairs.select("doc_a", "doc_b")
    ).select(
        F.col("doc_id").alias("gid"), F.col("cluster_id").alias("rep_label")
    )
    return (
        docs.join(members, "doc_id", "left")
        .join(rep_cc, "gid", "left")
        .select(
            "doc_id",
            F.coalesce("rep_label", "gid", "doc_id").alias("cluster_id"),
        )
    )


def _shingle_set_fp(col: str = "shingles") -> Column:
    """32-byte fingerprint of a shingle SET, injective by construction
    on the encoding layer: each element of the sorted array is netstring
    -encoded (``<decimal length>:<token>``) and the encodings are
    concatenated with NO separator — uniquely decodable (read digits to
    the first ':', then exactly that many chars), so two different
    sorted arrays can never produce the same pre-hash string even when
    tokens contain ':' or are empty (the separator-ambiguity that rules
    out naive ``concat_ws`` joins, pinned adversarially in
    tests/test_shingle_table.py). sha2-256 then compresses the unbounded
    encoding to a fixed 32 bytes. The hash must be cryptographic, not
    just wide: a collision here silently merges two different documents
    into a jaccard-10000 clique, and a web-scale corpus is attacker-
    writable — md5 chosen-prefix collisions are practically
    constructible, so an adversary could get a legitimate page dropped
    as a "duplicate" of crafted content. sha2-256's constructible-
    collision resistance closes that class (the same reason git moved
    off sha1); the random-collision birthday bound at 10^12 distinct
    sets is ~10^24/2^257 — negligible. ``shingles`` is never NULL by
    construction (``_shingles_of`` CASEs to ``array()``), so no
    array-level null guard; a NULL ELEMENT, impossible from
    ``_shingles_of`` but unenforced for a shingle relation handed
    straight to ``_grouped_build``, encodes as the explicit sentinel
    ``~``: the inner ``concat`` is NULL-propagating, so injectivity no
    longer rests on a no-NULL input contract — ``~`` is not a decimal
    digit, so the stream stays uniquely decodable (read ``~`` or read
    digits to ``:`` then that many chars), and ``array_sort`` places
    NULLs deterministically (last)."""
    enc = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.col(col)),
            lambda t: F.coalesce(
                F.concat(F.length(t).cast("string"), F.lit(":"), t),
                F.lit("~"),
            ),
        ),
    )
    return F.unhex(F.sha2(enc, 256))


def _narrow_of(s: DataFrame) -> DataFrame:
    """Skinny (doc_id, lang, _fp, qual) projection of a shingled
    relation — the group-collapse input. ``_fp`` is the fixed 32-byte
    injective-encoding digest of the sorted array (``_shingle_set_fp``),
    NOT the array itself: hashing/sorting the full shingle array as the
    exchange key would ship every document's entire set through the
    shuffle — the "wide span text never travels as a shuffle key"
    violation SCALE.md's span-dedup rule names. ``qual`` = the doc can
    carry edges in the full pair list
    (non-empty shingles, non-NULL lang — group-uniform)."""
    return s.select(
        "doc_id",
        "lang",
        _shingle_set_fp("shingles").alias("_fp"),
        (
            (F.size("shingles") > 0) & F.col("lang").isNotNull()
        ).alias("qual"),
    )


def _member_map(narrow: DataFrame) -> DataFrame:
    """Skinny (doc_id, gid, qual) identical-set group map from the
    ``_narrow_of`` projection: ``gid`` is the min doc_id over the
    (lang, shingle-set-fingerprint) group — the collapse key for
    ``_pairs_from_grouped``. Grouping equivalence with exact array
    equality is pinned on separator-adversarial tokens in
    tests/test_shingle_table.py.

    SHAPE — narrow aggregate + even join-back, not a window: a window
    over (lang, fp) makes partition size equal duplicate-class size and
    funnels every member's FULL ROW through one task — at the
    mass-duplication regime this collapse exists for (say 10^8 copies of
    one boilerplate text) that is a straggler buffering the whole class.
    Instead: (1) gid per group via a map-side-combinable
    ``groupBy(lang, fp).agg(min)`` over a ~40-byte/row projection — the
    hot class combines within map partitions, no row flood; (2) gid
    back onto distinct doc_ids via a narrow join (skewed on the hot fp,
    but rows are skinny and AQE skew-join splits a join partition,
    which it cannot do for a window). The shingle ARRAYS never enter
    this function's exchanges at all (r19: the r16-r18 tagger joined
    the wide relation back per member; now only the rep rows are
    re-joined to arrays, in ``_grouped_build``). ``lang`` joins
    null-safely: NULL lang is a real group (an inner equi-join would
    silently drop those docs). INPUT CONTRACT: ``narrow`` is consumed
    TWICE (aggregate branch + join-back) and Catalyst does not CSE
    across the fork, so the caller must pass a relation cheap to
    evaluate twice — a localCheckpoint (``_grouped_build``)."""
    gids = narrow.groupBy("lang", "_fp").agg(F.min("doc_id").alias("gid"))
    # aggregated to EXACTLY one row per doc_id: the raw
    # narrow⋈gids relation has one row per INPUT row, so a duplicated
    # doc_id in the documents parquet (outside input) would multiply
    # rows through downstream joins (2 input rows → 4 output rows) and
    # silently inflate every pair count. The min/max-agg makes the map
    # provably row-unique instead of resting on an unenforced uniqueness
    # contract; under the normal unique-doc_id input it is the identity.
    return (
        narrow.alias("n")
        .join(
            gids.alias("g"),
            F.col("n.lang").eqNullSafe(F.col("g.lang"))
            & (F.col("n._fp") == F.col("g._fp")),
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.min("gid").alias("gid"), F.max("qual").alias("qual"))
    )


def _pairs_from_grouped(groups: DataFrame, member_map: DataFrame) -> DataFrame:
    """Near-dup pairs from the grouped build (``_grouped_build``):
    AllPairs index over the representative rows (``groups``,
    ``_pairs_from_shingled``), then relational expansion — cross-group
    member pairs inherit their representatives' exact jaccard_bp, and
    each non-empty group of b identical sets contributes its C(b,2)
    clique at jaccard 10000 (see ``_ngram_pair_build``'s collapse note
    for the proof obligations: empty sets and NULL langs are excluded to
    match the JACCARD_T3 guard and the lang equi-join — the member map's
    group-uniform ``qual`` flag)."""
    rep_pairs = _pairs_from_shingled(groups)
    # cross-group expansion: members inherit their representative's pairs
    ma = member_map.select(
        F.col("gid").alias("doc_a"), F.col("doc_id").alias("ma")
    )
    mb = member_map.select(
        F.col("gid").alias("doc_b"), F.col("doc_id").alias("mb")
    )
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard_bp",
        )
    )
    # intra-group cliques: identical non-empty sets are exact duplicates
    me = member_map.filter("qual").select("gid", "doc_id")
    ia = me.alias("ia")
    ib = me.alias("ib")
    intra = ia.join(
        ib,
        (F.col("ia.gid") == F.col("ib.gid"))
        & (F.col("ia.doc_id") < F.col("ib.doc_id")),
    ).select(
        F.col("ia.doc_id").alias("doc_a"),
        F.col("ib.doc_id").alias("doc_b"),
        F.lit(10000).cast("long").alias("jaccard_bp"),
    )
    return cross.unionByName(intra)


def _pairs_from_shingled(s: DataFrame) -> DataFrame:
    """Near-dup-pair plan (doc_a, doc_b, jaccard_bp) from an already-
    materialized shingled relation (doc_id, lang, shingles) — the
    AllPairs prefix index + PPJoin positional bound + exact
    array_intersect verify, exactly as ``_ngram_pair_build`` documents.
    The registry keys reach it through ``_pairs_from_grouped`` over the
    representative rows."""
    docs = s.select("doc_id", "shingles")
    ex = s.select(
        "doc_id",
        "lang",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("tok"),
    )
    freq = ex.groupBy("lang", "tok").agg(F.count("*").alias("df"))
    pw = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref = (
        ex.join(freq, ["lang", "tok"])
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.expr("rn <= n_sh div 2 + 1"))
        .select("doc_id", "lang", "tok", "rn", "n_sh")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # PPJoin positional refinement, applied per
    # matched prefix entry BEFORE pair dedup. For the FIRST common token
    # under the shared (df, tok) order, every common token sits at or
    # after its position in both docs, so overlap ≤ 1 + min(n_a − rn_a,
    # n_b − rn_b); j ≥ 0.5 needs overlap ≥ ⌈(n_a+n_b)/3⌉. A qualifying
    # pair's first common prefix entry always passes the bound (the
    # prefix-filter proof puts it inside both prefixes), so the filter is
    # LOSSLESS; entries that can't reach the threshold never become
    # candidates.
    pos_ok = (
        F.lit(1)
        + F.least(
            F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
        )
    ) >= F.expr("(a.n_sh + b.n_sh + 2) div 3")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(pos_ok)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    # verify joins the pairs to PER-DOC shingle arrays — deliberately NOT
    # the minhash trick of shingling only the joined candidate texts: the
    # j ≥ 0.5 prefix filter admits ~15 candidates per doc on this corpus,
    # so per-pair shingling would redo the array work ~30× per doc (2 docs
    # a pair); measured 5× slower end-to-end at sf0.1. LSH bands are
    # selective enough for per-pair shingling; AllPairs prefixes are not.
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    pairs = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .filter(F.expr(JACCARD_T3))
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    num = F.col("n_inter") * 10000 * 2 + n_union
    den = n_union * 2
    return pairs.select(
        "doc_a",
        "doc_b",
        ((num - num % den) / den).cast("long").alias("jaccard_bp"),
    )


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard ≥ 0.5, with
    prefix-filtered + position-bounded inverted-index candidate
    generation (the AllPairs / PPJoin family). Jaccard threshold and
    reported value are exact integer arithmetic: j ≥ 0.5 ⟺ 3·|∩| ≥
    |A|+|B|.

    The prefix filter is LOSSLESS under ANY global total order on tokens,
    so the all-pairs oracle stays the ground truth: j ≥ 0.5 forces
    |A∩B| ≥ ⌈max(n_a, n_b)/2⌉, so for the smallest common shingle x
    (under the chosen order) at most ⌈n/2⌉−1 elements of each doc precede
    x — x sits inside BOTH docs' prefix of length ⌊n/2⌋+1. Indexing only
    those prefixes and equi-joining on (lang, token) therefore finds every
    qualifying pair (tests/test_plans.py pins the equi-join); the PPJoin
    positional bound (see ``_ngram_pair_build``) then discards matches
    that cannot reach the overlap threshold, and the exact
    array_intersect verify rejects the rest.

    The order used is ASCENDING GLOBAL DOCUMENT FREQUENCY (ties by token)
    — the canonical AllPairs/PPJoin choice: candidate work is Σ_token df²
    over prefix postings, and rare-first prefixes push the frequent
    (quadratic-cost) tokens OUT of the index, which is what keeps the
    candidate count bounded on Zipfian real-text corpora where a
    lexicographic order can land stopword shingles in every prefix. Costs
    one extra count aggregate over the postings plus a per-doc window
    rank — both shuffle-bounded, nothing quadratic."""
    return _ngram_pair_build(spark, sf_dir)


ORACLE_NGRAM_JACCARD = f"""
    WITH s AS (
        SELECT doc_id, lang, {_SQL_SHINGLES} AS shingles FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles))::BIGINT AS n_inter,
               len(a.shingles)::BIGINT AS n_a,
               len(b.shingles)::BIGINT AS n_b
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ((n_inter * 10000 * 2 + (n_a + n_b - n_inter)) // ((n_a + n_b - n_inter) * 2))
               AS jaccard_bp
    FROM pairs WHERE {JACCARD_T3}
"""


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signatures over ``(doc_id, text)``: shingle → md5int
    mod P, then min over (aᵢ·x + bᵢ) mod P per permutation. Narrow per-row
    transform, no shuffle.

    The md5 of each shingle is materialized ONCE (projection step) before
    the 8 permutation columns — inlining it per permutation re-hashes every
    shingle 8×, which dominated the whole benchmark at sf0.1."""
    s = docs.select("doc_id", F.split("text", " ").alias("__t")).select(
        "doc_id", F.expr(_shingles_of("__t")).alias("shingles")
    )
    hashed = s.select(
        "doc_id",
        F.expr(f"transform(shingles, s -> {_MD5INT.format(x='s')} % {P})").alias("hx"),
    )
    sig_cols = [
        F.expr(f"array_min(transform(hx, x -> ({a}L * x + {b}L) % {P}))").alias(f"sig{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    return hashed.select("doc_id", *sig_cols)


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH near-dedup over ``(doc_id, text)``: 8 fixed
    permutations, 4 bands × 2 rows; candidate pairs from an equi-join on
    (band_idx, band_signature), then exact-Jaccard verification at ≥ 0.5.

    EXACT DUPLICATES ARE COLLAPSED FIRST (r3 hot-bucket fix): a group of b
    byte-identical texts shares every band signature, so without the
    pre-dedup ONE band bucket holds all b copies and its collect_list +
    pair explode is O(b²) in a single task — mass-duplicated corpora (the
    common case at 100 TB) stall there. Grouping by raw-text md5 and
    running LSH on the min-doc_id representatives bounds every bucket by
    the number of DISTINCT texts; the group's pairs come back as (rep →
    member) edges at jaccard 10000 (identical text ⇒ identical shingles),
    computed relationally from the fingerprint groupBy — O(b) rows, no
    per-task blowup (pinned by tests/test_dedup_blocking.py).

    Output on the deduplicated space: near-dup pairs among representatives
    ∪ exact-dup edges. Fully deterministic (fixed perms, md5 hashing), so
    the oracle replicates it exactly.
    """
    # the fingerprinted relation feeds the rep pick AND the exact-dup
    # edge build — un-materialized, the scan + md5 ran once per reference
    # (plans/r18/dedup_minhash_lsh_before.txt: 4 full corpus re-reads at
    # runtime). One localCheckpoint bounds it to one pass (guide
    # §3.3/§5), and ONLY the skinny (doc_id, rfp, ok3) projection is
    # materialized (≤48 B/row — the CC edge-checkpoint size class), not
    # the full corpus TEXT, which would be a corpus-sized executor-local
    # copy with no lineage fault-tolerance (guide §5). Representative
    # text is recovered from the
    # parquet scan by an id join instead — at 100 TB one extra
    # fault-tolerant columnar scan in place of a full-corpus local write.
    fp = docs.select(
        "doc_id",
        F.md5("text").alias("rfp"),
        (F.size(F.split("text", " ")) >= 3).alias("ok3"),
    ).localCheckpoint()
    rep = fp.groupBy("rfp").agg(F.min("doc_id").alias("rep_id"))
    reps = docs.join(
        rep.select(F.col("rep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", "text")
    sigs = _minhash_sigs(reps)
    # bands carry ONLY (doc_id, band): candidate generation is a groupBy on
    # the band key with bucket-local pair explosion — ONE pass over the
    # signature pipeline and one skinny shuffle. (A band self-join computes
    # the whole MinHash pipeline twice and shuffles both sides; with
    # bounded bucket sizes the collect_list + pairwise explode is strictly
    # cheaper and is the standard LSH shape at scale.)
    bands = _sig_bands(sigs)
    cand = (
        bands.groupBy("band_idx", "band_sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint()
    )
    # candidate pairs are tiny relative to the corpus (that is LSH's
    # whole point), so they are checkpointed (output-bounded) and their
    # shingle sets recovered with ONE corpus scan + broadcast id
    # semi-join, also checkpointed (guide §8 — decide on lightweight
    # proxies, attach the heavy payload once). Verification is then two
    # broadcast joins over tiny materialized relations: the corpus-wide
    # pipelines run once each and the verification shuffles nothing.
    pair_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    txt = (
        docs.join(F.broadcast(pair_ids), "doc_id")
        .select("doc_id", F.split("text", " ").alias("__t"))
        .select("doc_id", F.expr(_shingles_of("__t")).alias("sh"))
        .localCheckpoint()
    )
    verified = (
        cand.join(
            F.broadcast(
                txt.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                txt.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .filter(F.expr(JACCARD_T3))
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    num = F.col("n_inter") * 10000 * 2 + n_union
    den = n_union * 2
    near = verified.select(
        "doc_a", "doc_b", ((num - num % den) / den).cast("long").alias("jaccard_bp")
    )
    # exact-dup group edges: identical text ⇒ jaccard 10000, provided the
    # doc actually has shingles (≥ 3 words) — matching the JACCARD_T3
    # empty-shingle guard on the near-dup side
    edges = (
        fp.join(rep, "rfp")
        .filter(F.col("doc_id") > F.col("rep_id"))
        .filter("ok3")
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(10000).cast("long").alias("jaccard_bp"),
        )
    )
    return near.unionByName(edges)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for ``minhash_lsh_pairs`` over the documents table."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def _sig_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig0..sig7) → one (doc_id, band_idx, band_sig) row per
    band — the LSH index key."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("_", F.col(f"sig{2 * i}"), F.col(f"sig{2 * i + 1}"))
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band_idx", "band_sig"),
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """Batch-vs-corpus near-dedup — the INGEST-TIME shape of MinHash-LSH
    at 100 TB: the corpus is signed ONCE and its (band_idx, band_sig) →
    doc_id index is materialized (bucketed by band key) at write time;
    each arriving batch signs only its own documents, equi-joins its
    bands against the index, and verifies exact Jaccard on the candidate
    (new, corpus) pairs. No corpus rescan, no corpus re-signing, and the
    batch side — small by definition — broadcasts, so candidate probing
    is a local hash lookup per index partition.

    Here the corpus bands are computed inline because the test corpus is
    parquet, not a maintained index; the signing pipeline and the join
    are exactly what a materialized index serves. Returns (doc_new,
    doc_corpus, jaccard_bp) cross pairs at Jaccard ≥ 0.5; new-vs-new
    dedup within the batch is the ordinary ``minhash_lsh_pairs`` on the
    (small) batch. doc_id spaces must be disjoint."""
    nb = _sig_bands(_minhash_sigs(new_docs))
    cb = _sig_bands(_minhash_sigs(corpus_docs))
    cand = (
        cb.alias("c")
        .join(
            F.broadcast(nb.alias("n")),
            (F.col("c.band_idx") == F.col("n.band_idx"))
            & (F.col("c.band_sig") == F.col("n.band_sig")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("c.doc_id").alias("doc_corpus"),
        )
        .dropDuplicates(["doc_new", "doc_corpus"])
    )
    txt_n = new_docs.select(
        F.col("doc_id").alias("doc_new"), F.split("text", " ").alias("t_n")
    )
    txt_c = corpus_docs.select(
        F.col("doc_id").alias("doc_corpus"), F.split("text", " ").alias("t_c")
    )
    verified = (
        txt_c.join(F.broadcast(cand), "doc_corpus")
        .join(F.broadcast(txt_n), "doc_new")
        .select(
            "doc_new",
            "doc_corpus",
            F.expr(_shingles_of("t_n")).alias("sh_a"),
            F.expr(_shingles_of("t_c")).alias("sh_b"),
        )
        .select(
            "doc_new",
            "doc_corpus",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .filter(F.expr(JACCARD_T3))
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    num = F.col("n_inter") * 10000 * 2 + n_union
    den = n_union * 2
    return verified.select(
        "doc_new",
        "doc_corpus",
        ((num - num % den) / den).cast("long").alias("jaccard_bp"),
    )


def _sql_minhash_bands() -> str:
    xs = f"list_transform(shingles, s -> {_sql_md5int('s')} % {P})"
    sig_exprs = ",\n               ".join(
        f"list_min(list_transform({xs}, x -> ({a} * x + {b}) % {P})) AS sig{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, shingles, {i} AS band_idx, "
        f"(sig{2 * i} || '_' || sig{2 * i + 1}) AS band_sig FROM sigs"
        for i in range(N_BANDS)
    )
    return f"""
    WITH fp AS (
        SELECT doc_id, text, md5(text) AS rfp FROM documents
    ), rep AS (
        SELECT rfp, MIN(doc_id) AS rep_id FROM fp GROUP BY rfp
    ), s AS (
        SELECT f.doc_id, {_SQL_SHINGLES.replace('text', 'f.text')} AS shingles
        FROM fp f JOIN rep r ON f.rfp = r.rfp AND f.doc_id = r.rep_id
    ), sigs AS (
        SELECT doc_id, shingles,
               {sig_exprs}
        FROM s
    ), bands AS (
{band_selects}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ), verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.shingles, sb.shingles))::BIGINT AS n_inter,
               len(sa.shingles)::BIGINT AS n_a,
               len(sb.shingles)::BIGINT AS n_b
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           ((n_inter * 10000 * 2 + (n_a + n_b - n_inter)) // ((n_a + n_b - n_inter) * 2))
               AS jaccard_bp
    FROM verified WHERE {JACCARD_T3}
    UNION ALL
    SELECT r.rep_id AS doc_a, f.doc_id AS doc_b, 10000::BIGINT AS jaccard_bp
    FROM fp f JOIN rep r ON f.rfp = r.rfp AND f.doc_id > r.rep_id
    WHERE len(regexp_split_to_array(f.text, ' ')) >= 3
    """


SIMHASH_MAX_HAMMING = 3  # banding guarantee: 4 bands find every d <= 3
#: near-dup uses the full 60-bit md5-prefix hash width, split into 4 bands
#: of 15 bits. Band keyspace is the scale lever: each band
#: must take enough distinct values that band buckets stay small — 8-bit
#: bands cap at 256 values/band so bucket sizes (and the band self-join)
#: grow O(n²/256); 15-bit bands give 32,768 values/band, and the
#: pigeonhole guarantee (≤3 differing bits can touch at most 3 of 4
#: bands, so one band is always untouched) depends only on the BAND
#: COUNT, not the width. 60 is also the natural maximum here: signatures
#: inherit the 60-bit md5-prefix word hashes, and bit 59 ≪ 63 keeps every
#: `1 << b` inside a signed int64 in both engines. (The exact-bucket
#: variant keeps 16 bits as a deliberately coarse bucketing.)
SIMHASH_NEAR_BITS = 60


def _simhash_sigs(spark: SparkSession, sf_dir: str, nbits: int = 16) -> DataFrame:
    """Per-doc SimHash via the RELATIONAL formulation: explode the per-word
    hashes (md5 computed exactly once per word) and take ``nbits``
    codegen'd bit-count SUMs per doc; bit b of the signature is set iff
    more than half the words carry it (identical to the ±1 vote:
    Σ±1 > 0 ⟺ 2·cnt_set > n).

    Why not a higher-order ``aggregate`` over the hash array: lambda
    functions are interpreted per element, so nbits × words evaluations
    per doc ran 25 s at sf0.1; the explode→groupBy form stays inside
    whole-stage codegen with a map-side-combined single shuffle on doc_id
    and runs ~20× faster. At 100 TB the explode multiplies rows by
    words/doc, but partial aggregation returns one row per doc before the
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(split(text, ' '), w -> {_MD5INT.format(x='w')})")
        ).alias("h"),
    )
    aggs = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(nbits)
    ] + [F.count("*").alias("n")]
    cnt = words.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(nbits):
        sim = sim + F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(0)
    return cnt.select("doc_id", sim.cast("long").alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (token-hash bit voting),
    grouped to dup buckets by exact signature — the cheap exact-signature
    variant; ``simhash_near_dup`` is the Hamming-tolerant one. Narrow
    per-row transform; the groupBy is the only shuffle."""
    return (
        _simhash_sigs(spark, sf_dir)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
    )


def _sql_simhash(nbits: int) -> str:
    return f"""list_sum(list_transform(range(0, {nbits}), b ->
                 CASE WHEN list_sum(list_transform(regexp_split_to_array(text, ' '),
                        w -> CASE WHEN ({_sql_md5int('w')} >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                      THEN (1::BIGINT << b) ELSE 0 END))::BIGINT"""


ORACLE_DEDUP_SIMHASH = f"""
    SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
    FROM (
        SELECT doc_id, {_sql_simhash(16)} AS simhash
        FROM documents
    ) GROUP BY simhash
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash NEAR-dup pairs within Hamming distance ≤ 3, with banded
    candidate generation: the 60-bit signature splits into 4 bands of 15
    bits, and by pigeonhole two signatures differing in ≤ 3 bits must agree
    on ≥ 1 whole band — so an equi-join on (band_idx, band_bits) finds
    every qualifying pair (LOSSLESS; the all-pairs oracle is ground truth)
    and exact popcount(xor) verification rejects false candidates. This is
    the Hamming-neighbor probing the exact-signature ``dedup_simhash``
    bucket lacks; candidate work is shuffle-bounded by band-bucket size,
    and the 15-bit band keyspace (32k values) keeps buckets small as the
    corpus grows (see SIMHASH_NEAR_BITS note).

    The signature relation is ``localCheckpoint``-ed once: both sides of
    the banded self-join read it and Catalyst does not CSE across
    self-join subtrees, so un-checkpointed the word-explode + 60-bit-vote
    groupBy ran twice per query (the same lesson as
    ``_ngram_pair_build``). One narrow row per doc — bounded. The
    returned plan reads the blocks, so the function cannot free them;
    the harness releases them once every action reading the result has
    run (operators/checkpoint.py). Accumulation is bounded at ONE
    persisted generation per invocation — pinned by
    tests/test_plans.py::test_simhash_checkpoint_is_caller_releasable."""
    sigs = _simhash_sigs(spark, sf_dir, SIMHASH_NEAR_BITS).localCheckpoint()
    band_width = SIMHASH_NEAR_BITS // 4
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("simhash", band_width * i) % (1 << band_width))
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


ORACLE_SIMHASH_NEAR_DUP = f"""
    WITH sigs AS (
        SELECT doc_id, {_sql_simhash(SIMHASH_NEAR_BITS)} AS simhash FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# repetition-quality signals / stratified sampling / duplicate clustering
# --------------------------------------------------------------------------

#: full Gopher repetition ladder (Rae et al. 2021 §A1.1): TOP-n-gram
#: coverage for n = 1..4 (fraction of n-gram positions claimed by the
#: single most frequent n-gram) and DUP-n-gram fraction for n = 5..10
#: (fraction of n-gram positions whose n-gram occurs more than once).
#: The paper weights by characters over newline-delimited text; this
#: corpus is single-line whitespace tokens, so both families are
#: position-weighted — same signal, exact integer arithmetic.
GOPHER_TOP_NS = (1, 2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)

def _rep_stats_expr(g: int) -> str:
    """Per-ROW repetition stats for order-``g`` n-grams of ``words``:
    struct(mx = multiplicity of the most frequent n-gram, dup = number of
    n-gram positions whose n-gram occurs more than once).

    Repetition is a PER-DOCUMENT property, so it never needs a corpus-wide
    (doc, gram) shuffle: sort the document's own n-gram array and fold
    once over it counting runs of equal neighbors (run length = that
    gram's multiplicity). The fold is a codegen'd higher-order
    ``aggregate`` with a 4-field struct accumulator — O(positions · g)
    per row after an O(p log p) sort, zero exchanges.

    No key runs this expression: ``quality_gopher`` uses the vectorized
    ``_gopher_rep_stats`` kernel. It is kept as the independent
    reference that kernel's test compares against row for row
    (tests/test_quality_clusters.py), so it stays next to the kernel it
    specifies."""
    grams = _ngrams_expr(g)
    return (
        "aggregate("
        f"array_sort({grams}), "
        "struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS mx, 0L AS dup), "
        "(a, x) -> CASE WHEN a.prev IS NOT NULL AND x = a.prev "
        "THEN struct(x AS prev, a.run + 1L AS run, a.mx AS mx, a.dup AS dup) "
        "ELSE struct(x AS prev, 1L AS run, greatest(a.mx, a.run) AS mx, "
        "a.dup + IF(a.run > 1L, a.run, 0L) AS dup) END, "
        "a -> struct(greatest(a.mx, a.run) AS mx, "
        "a.dup + IF(a.run > 1L, a.run, 0L) AS dup))"
    )


def _gopher_rep_stats(batches):
    """Arrow-batched exact twin of the ``_rep_stats_expr`` ladder: per
    document, n (token count), n_dup (tokens minus distinct tokens) and,
    for every order g = 1..10, mx{g} (multiplicity of the most frequent
    g-gram) / dup{g} (g-gram positions whose gram occurs more than
    once).

    All counting is EXACT — gram identity comes from ``np.unique``
    (string equality, then pairwise integer re-encoding per order), no
    hashing anywhere — so the outputs are bit-identical to the
    higher-order-aggregate ladder (pinned row-for-row against
    ``_rep_stats_expr`` in tests). The kernel exists because Spark's
    higher-order functions evaluate their lambdas interpreted, outside
    whole-stage codegen: the 10-order expression ladder measured ~3 µs
    per n-gram position at sf0.1 (≈5 s for 2.7 M positions) while this
    vectorized kernel does the same work in C loops (~0.7 s), a per-task
    compute gap that follows the operator to any scale (guide §4.2 —
    hand whole batches to vectorized native code instead of chains of
    interpreted expressions).

    Mechanics: flatten the batch's token arrays once; global token ids
    via one ``np.unique``; order-g gram ids by re-encoding
    (gid_{g−1}, next-token-id) pairs through ``np.unique`` per order,
    packed as ``gid * k_tok + tok_id`` — the multiplier bounds the
    range of the ADDED term (tok_id < k_tok), so the packing is
    injective for any batch size, and gid < total < 2^31 with
    k_tok < 2^31 (asserted) keeps the int64 product overflow-free;
    per-(doc, gram) counts from one more ``np.unique``,
    with per-doc max / dup-sums via ``reduceat`` over the sorted runs.
    Documents shorter than g contribute mx = dup = 0, exactly like the
    empty-gram-array fold. ``words`` is never NULL (split of the
    non-null text column)."""
    import numpy as np
    import pandas as pd

    orders = (*GOPHER_TOP_NS, *GOPHER_DUP_NS)
    for pdf in batches:
        n_docs = len(pdf)
        if n_docs == 0:
            continue
        words = pdf["words"]
        lens = np.fromiter(
            (len(w) for w in words), dtype=np.int64, count=n_docs
        )
        total = int(lens.sum())
        assert total < 2**31, "token positions overflow one Arrow batch"
        flat = (
            np.concatenate([np.asarray(w, dtype=object) for w in words])
            if total
            else np.empty(0, dtype=object)
        )
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        offs = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        _, tok_id = np.unique(flat, return_inverse=True)
        tok_id = tok_id.astype(np.int64)
        out = {"doc_id": pdf["doc_id"].to_numpy(), "n": lens}
        k_tok = int(tok_id.max(initial=-1)) + 2
        distinct_per_doc = np.bincount(
            (np.unique(doc_idx * k_tok + tok_id) // k_tok).astype(np.int64),
            minlength=n_docs,
        )
        out["n_dup"] = lens - distinct_per_doc
        doc_end = (
            offs[1:][doc_idx] if total else np.empty(0, dtype=np.int64)
        )
        pos = np.arange(total, dtype=np.int64)
        gid = tok_id
        valid = np.ones(total, dtype=bool)
        for g in orders:
            if g > 1:
                fits = pos + g - 1 < doc_end
                keep = fits[valid]
                valid_pos = pos[valid][keep]
                # Pack (gid, next-token) pairs: the multiplier must bound
                # the ADDED term's range (tok_id < k_tok), not gid's —
                # gid < total < 2^31 and k_tok < 2^31, so the int64
                # product cannot overflow.
                assert k_tok < 2**31
                key = gid[keep] * k_tok + tok_id[valid_pos + g - 1]
                _, gid = np.unique(key, return_inverse=True)
                gid = gid.astype(np.int64)
                valid = np.zeros(total, dtype=bool)
                valid[valid_pos] = True
            else:
                valid_pos = pos
            mx = np.zeros(n_docs, dtype=np.int64)
            dup = np.zeros(n_docs, dtype=np.int64)
            if valid_pos.size:
                k_doc = int(gid.max(initial=-1)) + 2
                u, cnt = np.unique(
                    doc_idx[valid_pos] * k_doc + gid, return_counts=True
                )
                docs_u = (u // k_doc).astype(np.int64)
                starts = np.searchsorted(docs_u, np.arange(n_docs))
                ends = np.searchsorted(docs_u, np.arange(n_docs) + 1)
                nz = ends > starts
                if nz.any():
                    mx[nz] = np.maximum.reduceat(cnt, starts[nz])
                    dupc = np.where(cnt > 1, cnt, 0)
                    csum = np.concatenate([[0], np.cumsum(dupc)])
                    dup[nz] = csum[ends[nz]] - csum[starts[nz]]
            out[f"mx{g}"] = mx
            out[f"dup{g}"] = dup
        yield pd.DataFrame(out)


_GOPHER_STATS_SCHEMA = "doc_id long, n long, n_dup long, " + ", ".join(
    f"mx{g} long, dup{g} long" for g in (*GOPHER_TOP_NS, *GOPHER_DUP_NS)
)


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals, full ladder (Rae et al. 2021 §A1.1
    adapted to the whitespace-token corpus): duplicate-token fraction,
    top-{1,2,3,4}-gram coverage, and dup-{5..10}-gram fraction, all in
    exact half-up integer basis points over n-gram POSITIONS
    (positions(g) = n_words − g + 1).

    Scale shape: ZERO shuffles. Every signal is a per-document function
    of that document's own tokens, computed by the Arrow-batched
    ``_gopher_rep_stats`` kernel — one narrow pass over the scan,
    embarrassingly parallel at any corpus size. (The first cut exploded
    a tagged (doc, g, gram) stream through two groupBys — it shuffled
    ~10× the token stream; the r2 rewrite folded per row with
    higher-order ``aggregate`` lambdas — zero shuffle but interpreted
    per element, measured 6× slower than the kernel at sf0.1 with the
    same exact outputs; the relational twin survives as the DuckDB
    oracle and the HOF ladder as the kernel's pinned reference,
    ``_rep_stats_expr``.) Trade-off accepted knowingly: the opaque
    kernel computes all 10 orders even for consumers that prune columns
    (``gopher_filter`` needs two), but the full kernel still undercuts
    the pruned two-order expression ladder (guide §4.2)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split("text", " ").alias("words")
    ).mapInPandas(_gopher_rep_stats, _GOPHER_STATS_SCHEMA)

    def _bp_half_up(num_col, den_col):
        num = num_col * 10000 * 2 + den_col
        den = den_col * 2
        return ((num - num % den) / den).cast("long")

    def _pos_bp(num_col, g: int):
        positions = F.col("n") - (g - 1)
        return (
            F.when(F.col("n") >= g, _bp_half_up(num_col, positions))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return base.select(
        "doc_id",
        F.col("n").alias("n_words"),
        _bp_half_up(F.col("n_dup"), F.col("n")).alias("dup_token_bp"),
        _pos_bp(F.col("mx1"), 1).alias("top_token_bp"),
        _pos_bp(F.col("mx2"), 2).alias("top_bigram_bp"),
        _pos_bp(F.col("mx3"), 3).alias("top_3gram_bp"),
        _pos_bp(F.col("mx4"), 4).alias("top_4gram_bp"),
        *[
            _pos_bp(F.col(f"dup{g}"), g).alias(f"dup_{g}gram_bp")
            for g in GOPHER_DUP_NS
        ],
    )


def _sql_quality_gopher() -> str:
    mx_cols = ",\n               ".join(
        f"MAX(CASE WHEN g = {g} THEN c END)::BIGINT AS mx{g}" for g in GOPHER_TOP_NS
    )
    dup_cols = ",\n               ".join(
        f"COALESCE(SUM(CASE WHEN g = {g} AND c > 1 THEN c END), 0)::BIGINT AS dup{g}"
        for g in GOPHER_DUP_NS
    )

    def pos_bp(num: str, g: int, alias: str) -> str:
        return (
            f"CASE WHEN n >= {g} THEN (({num} * 10000 * 2 + (n - {g - 1})) "
            f"// ((n - {g - 1}) * 2)) ELSE 0 END AS {alias}"
        )

    out_cols = ",\n           ".join(
        [
            pos_bp("mx1", 1, "top_token_bp"),
            pos_bp("mx2", 2, "top_bigram_bp"),
            pos_bp("mx3", 3, "top_3gram_bp"),
            pos_bp("mx4", 4, "top_4gram_bp"),
        ]
        + [pos_bp(f"dup{g}", g, f"dup_{g}gram_bp") for g in GOPHER_DUP_NS]
    )
    return f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents
    ), base AS (
        SELECT doc_id, len(words)::BIGINT AS n,
               (len(words) - len(list_distinct(words)))::BIGINT AS n_dup
        FROM w
    ), tagged AS (
        SELECT doc_id, g,
               unnest(list_transform(range(1, len(words) - g + 2),
                      i -> array_to_string(words[i:i + g - 1], ' '))) AS tok
        FROM w, range(1, 11) t(g)
        WHERE len(words) >= g
    ), cnt AS (
        SELECT doc_id, g, tok, COUNT(*) AS c FROM tagged GROUP BY doc_id, g, tok
    ), per AS (
        SELECT doc_id,
               {mx_cols},
               {dup_cols}
        FROM cnt GROUP BY doc_id
    )
    SELECT b.doc_id, b.n AS n_words,
           ((b.n_dup * 10000 * 2 + b.n) // (b.n * 2)) AS dup_token_bp,
           {out_cols}
    FROM base b JOIN per USING (doc_id)
"""


ORACLE_QUALITY_GOPHER = _sql_quality_gopher()


#: per-stratum keep rates in basis points: downsample the majority 'en'
#: stratum to rebalance the corpus, sample the rest at 75%.
SAMPLE_RATE_EN_BP = 2500
SAMPLE_RATE_OTHER_BP = 7500


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: each doc keeps iff
    md5('strat_' || doc_id) mod 10000 falls under its stratum's rate.
    This is the sampling a 100 TB pipeline actually wants — no RNG state,
    so the sample is reproducible run-to-run, stable under retries and
    re-partitioning, co-ordinated across derived tables keyed by the same
    id, and embarrassingly parallel (a narrow per-row filter pushed right
    after the scan; no shuffle at all)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(_MD5INT.format(x="concat('strat_', CAST(doc_id AS STRING))")) % 10000
    )
    rate = (
        F.when(F.col("lang") == "en", F.lit(SAMPLE_RATE_EN_BP))
        .otherwise(F.lit(SAMPLE_RATE_OTHER_BP))
        .cast("long")
    )
    return (
        d.select(
            "doc_id",
            "lang",
            bucket.cast("long").alias("bucket"),
            rate.alias("rate_bp"),
        )
        .filter(F.col("bucket") < F.col("rate_bp"))
    )


_SQL_STRAT_BUCKET = _sql_md5int("'strat_' || CAST(doc_id AS VARCHAR)") + " % 10000"

ORACLE_STRATIFIED_SAMPLE = f"""
    SELECT doc_id, lang, bucket, rate_bp FROM (
        SELECT doc_id, lang,
               {_SQL_STRAT_BUCKET} AS bucket,
               (CASE WHEN lang = 'en' THEN {SAMPLE_RATE_EN_BP}
                     ELSE {SAMPLE_RATE_OTHER_BP} END)::BIGINT AS rate_bp
        FROM documents
    ) WHERE bucket < rate_bp
"""


TF_VOCAB_SIZE = 64


def q_tf_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF vectorization — the tokenize→vocab→ids step in front of
    any training run: build the top-V vocabulary by global token frequency
    (ties break by token, so ids are deterministic), assign dense term ids
    0..V−1, and emit per-document (doc_id, term_id, tf) triples.

    Scale shape: the global count is a map-side-combinable groupBy over
    exploded tokens; the vocab ranking windows over DISTINCT TOKENS (a
    set ~10⁵-10⁶ regardless of corpus size — bounded by vocabulary, not
    data; at true web scale you'd pre-prune with an approximate top-k before
    the single-partition rank). The tiny ranked vocab then BROADCASTS
    back onto the token stream, so the corpus-side pipeline is
    explode→broadcast-join→groupBy(doc_id, term_id): one wide shuffle."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # top-V selection via orderBy().limit() on purpose: it compiles to
    # TakeOrderedAndProject — every partition keeps its local top V and the
    # driver merges V-row heaps — whereas a global row_number window would
    # sort ALL distinct tokens in a single task. The ranking window below
    # then runs on the V surviving rows only.
    vw = Window.orderBy(F.col("c").desc(), F.col("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(TF_VOCAB_SIZE)
        .withColumn("term_id", (F.row_number().over(vw) - 1).cast("long"))
        .select("tok", "term_id")
    )
    return (
        tok.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id", "term_id")
        .agg(F.count("*").alias("tf"))
    )


ORACLE_TF_VECTORIZE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, ' ')) AS tok
        FROM documents
    ), cnt AS (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ), vocab AS (
        SELECT tok,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) - 1 AS BIGINT) AS term_id
        FROM cnt
        QUALIFY term_id < {TF_VOCAB_SIZE}
    )
    SELECT t.doc_id, v.term_id, COUNT(*) AS tf
    FROM tok t JOIN vocab v USING (tok)
    GROUP BY t.doc_id, v.term_id
"""


CC_MAX_ITERS = 30


def connected_components(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label-propagation connected components over ``docs(doc_id)`` and
    undirected ``edges(doc_a, doc_b)``; returns (doc_id, cluster_id) where
    cluster_id is the minimum doc_id reachable (singletons label
    themselves). The fixpoint is unique, so the result is deterministic
    regardless of execution order.

    This is the GraphX/Pregel CC shape expressed in DataFrames: each
    iteration is edges⋈labels → min-per-dst → least(old, new), i.e. two
    shuffles over skinny (id, label) rows, and converges in
    O(graph diameter) rounds — near-dup graphs are dense clumps with tiny
    diameters, so 3-5 rounds in practice. Convergence is detected by the
    strictly-decreasing Σlabel (one scalar action per round, no extra
    join), summed as decimal(38,0): a BIGINT sum silently wraps once
    n·max_id passes 2⁶³ (any trillion-doc corpus), and a wrapped equality
    could declare convergence early.

    Each round's labels are localCheckpoint'ed, not merely persisted:
    persistence truncates EXECUTION but not the logical plan, so the
    accumulated join tree grows by two joins per round and Catalyst
    re-optimizes the whole history every iteration — a 12-round chain
    OOMs the driver on plan bookkeeping alone. Checkpointing resets the
    plan to a leaf each round (the standard discipline for iterative
    DataFrame algorithms; on a real cluster use reliable
    ``checkpoint()`` so executor loss can't lose label state, and switch
    to ``operators/graph.py:connected_components_star`` — the alternating
    large-star/small-star contraction, O(log n) rounds — if diameters
    were unbounded)."""
    # the edge relation is read EVERY round: materialize it once
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint()
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    for _ in range(CC_MAX_ITERS):
        nbr = (
            sym.join(labels, sym.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), F.col("label").alias("nbr_label"))
            .groupBy("doc_id")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        nxt = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least("label", F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        # the superseded round's blocks die once the new one is
        # materialized (localCheckpoint is eager)
        release(labels)
        labels = nxt
        cur_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITERS} rounds")
    # the returned plan reads only the final labels checkpoint
    release(sym)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairs→clusters→canonical step that completes a real dedup
    pipeline: near-dup PAIRS (word-3-gram Jaccard ≥ 0.5, prefix-filtered —
    connectivity-equivalent to ``ngram_jaccard_dedup``'s edge set) are
    clustered by connected components, labeling every document with the
    minimum doc_id of its duplicate cluster. Keeping rows where doc_id =
    cluster_id IS the deduplicated corpus; everything else maps to its
    canonical survivor. The CC loop runs on the REPRESENTATIVE graph
    only — members are labeled through their gid by one join outside
    the loop (``_clusters_via_rep_cc``; proof there), so the oracle is unchanged while per-round
    shuffle volume scales with near-dup rep pairs, not corpus size."""
    return _clusters_via_rep_cc(spark, sf_dir, connected_components)


#: transitive closure over the SAME pair query, as a recursive CTE: reach
#: (src, node) accumulates every node reachable from src; min over the
#: closure is the component label. Quadratic in cluster size — fine as an
#: oracle, not a plan.
ORACLE_DUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLE_NGRAM_JACCARD})
    ), e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ), reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.node = e.a
    )
    SELECT src AS doc_id, MIN(node)::BIGINT AS cluster_id
    FROM reach GROUP BY src
"""


def q_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ``dup_clusters`` — (doc_id, cluster_id = min doc_id
    of the duplicate component) over the SAME representative graph
    (``_clusters_via_rep_cc``) — but the rep-level components come
    from the alternating large-star/small-star contraction
    (``operators/graph.py:connected_components_star``), the O(log n)-round
    path for graphs whose diameter is unbounded. Both algorithms reach the
    same unique fixpoint (property-tested against a union-find oracle in
    tests/test_graph_star.py), so this key shares ``dup_clusters``'s
    oracle; a green row here certifies the SCALE path, not just the
    diameter-bounded one."""
    from imperio_patitas_etl_spark.operators.graph import connected_components_star

    return _clusters_via_rep_cc(spark, sf_dir, connected_components_star)


#: deterministic "arriving batch" split for the incremental-MinHash key:
#: doc_id ≡ 7 (mod 10) plays the new batch, the rest the standing corpus.
MINHASH_BATCH_MOD = 10
MINHASH_BATCH_REMAINDER = 7


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time MinHash-LSH: the corpus is signed once, the arriving
    batch (a deterministic doc_id slice) signs only itself and probes the
    corpus band index. Output = (doc_new, doc_corpus, jaccard_bp) verified
    cross pairs at Jaccard ≥ 0.5 — see ``minhash_lsh_pairs_incremental``
    for the 100 TB shape (materialized band index, broadcast batch)."""
    d = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % MINHASH_BATCH_MOD == MINHASH_BATCH_REMAINDER
    return minhash_lsh_pairs_incremental(d.filter(is_new), d.filter(~is_new))


def _sql_minhash_incremental() -> str:
    """DuckDB twin of ``q_minhash_incremental`` — mirrors the incremental
    path literally: NO exact-dup pre-collapse (the batch probes the corpus
    as-is), band match between the two sides, exact-Jaccard verify."""
    xs = f"list_transform(shingles, s -> {_sql_md5int('s')} % {P})"
    sig_exprs = ",\n               ".join(
        f"list_min(list_transform({xs}, x -> ({a} * x + {b}) % {P})) AS sig{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    def bands(src: str) -> str:
        return "\n        UNION ALL\n".join(
            f"        SELECT doc_id, {i} AS band_idx, "
            f"(sig{2 * i} || '_' || sig{2 * i + 1}) AS band_sig FROM {src}"
            for i in range(N_BANDS)
        )
    return f"""
    WITH nd AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % {MINHASH_BATCH_MOD} = {MINHASH_BATCH_REMAINDER}
    ), cd AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % {MINHASH_BATCH_MOD} <> {MINHASH_BATCH_REMAINDER}
    ), sn AS (
        SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM nd
    ), sc AS (
        SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM cd
    ), sign_n AS (
        SELECT doc_id,
               {sig_exprs}
        FROM sn
    ), sign_c AS (
        SELECT doc_id,
               {sig_exprs}
        FROM sc
    ), bn AS (
{bands('sign_n')}
    ), bc AS (
{bands('sign_c')}
    ), cand AS (
        SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
        FROM bc c JOIN bn n
          ON c.band_idx = n.band_idx AND c.band_sig = n.band_sig
    ), verified AS (
        SELECT doc_new, doc_corpus,
               len(list_intersect(a.shingles, b.shingles))::BIGINT AS n_inter,
               len(a.shingles)::BIGINT AS n_a,
               len(b.shingles)::BIGINT AS n_b
        FROM cand
        JOIN sn a ON a.doc_id = doc_new
        JOIN sc b ON b.doc_id = doc_corpus
    )
    SELECT doc_new, doc_corpus,
           ((n_inter * 10000 * 2 + (n_a + n_b - n_inter)) // ((n_a + n_b - n_inter) * 2))
               AS jaccard_bp
    FROM verified WHERE {JACCARD_T3}
    """


def q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalized smooth-IDF weights over the ``tf_vectorize`` triples,
    in micro-units (weight_ubp = round(weight · 10⁶)).

    Exactness: each raw weight is integerized to micro-units BEFORE the
    per-document norm, so the Σw² under the sqrt is a sum of exact
    integers — order-independent and identical across engines — rather
    than a float accumulation whose engine-specific addition order could
    flip a rounding boundary (the repo-wide integerize-before-sum
    discipline). The remaining float ops (one ln
    per distinct (term, df), one sqrt + division per triple) run on
    identical inputs in both engines. w_u is cast to DECIMAL(38,0) BEFORE
    squaring, so Σw² cannot wrap however large tf grows —
    no assumed tf bound remains.
    n_docs is a one-scalar parquet count (metadata-cheap; the
    vocabulary-style constant every TF-IDF needs)."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    # the tf triples feed the document-frequency aggregate AND the
    # weight join — un-materialized, the whole vectorize pipeline
    # (scan + explode + two groupBys) ran twice per call (18 Exchange /
    # 8 scan static nodes, plans/r18/tfidf_weights_before.txt)
    tf = q_tf_vectorize(spark, sf_dir).localCheckpoint()
    dfc = tf.groupBy("term_id").agg(F.count("*").alias("df"))
    idf = F.log((1.0 + F.lit(float(n_docs))) / (1.0 + F.col("df"))) + 1.0
    raw = (
        tf.join(F.broadcast(dfc), "term_id")
        .select(
            "doc_id",
            "term_id",
            F.round(F.col("tf") * idf * 1_000_000).cast("long").alias("w_u"),
        )
    )
    norm_w = Window.partitionBy("doc_id")
    w_dec = F.col("w_u").cast("decimal(38,0)")
    n2 = F.sum(w_dec * w_dec).over(norm_w)
    return raw.select(
        "doc_id",
        "term_id",
        F.round(F.col("w_u") / F.sqrt(n2.cast("double")) * 1_000_000)
        .cast("long")
        .alias("weight_ubp"),
    )


ORACLE_TFIDF_WEIGHTS = f"""
    WITH tf AS ({ORACLE_TF_VECTORIZE}
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), raw AS (
        SELECT doc_id, term_id,
               CAST(ROUND(tf * (ln((1.0 + n_docs)
                                   / (1.0 + COUNT(*) OVER (PARTITION BY term_id)))
                                + 1.0) * 1000000) AS BIGINT) AS w_u
        FROM tf, n
    )
    SELECT doc_id, term_id,
           CAST(ROUND(w_u / sqrt(CAST(SUM(CAST(w_u AS HUGEINT) * w_u)
                                          OVER (PARTITION BY doc_id)
                                      AS DOUBLE)) * 1000000) AS BIGINT)
               AS weight_ubp
    FROM raw
"""


#: Gopher filter thresholds — the SHAPE is Rae et al. Table A1; the
#: numbers are tuned to this synthetic corpus's measured quantiles
#: (BASELINE.md) so every rule actually fires on some documents instead
#: of being dead code. Bitmask reasons, so downstream can distinguish
#: "too short" from "repetitious" without re-running the signals.
GOPHER_MIN_WORDS = 20       # reason 1
GOPHER_MAX_WORDS = 90       # reason 2
GOPHER_MAX_DUP_TOKEN_BP = 6500   # reason 4
GOPHER_MAX_TOP_TOKEN_BP = 1300   # reason 8
GOPHER_MAX_DUP5_BP = 1000        # reason 16


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the Gopher quality RULES on top of the measured signals
    (``quality_gopher``): per document, a reason bitmask of every rule it
    violates and the resulting keep decision — the actual corpus-filter
    step a training pipeline executes, with auditability (WHY a doc was
    dropped survives into the output). Composes on the zero-shuffle
    signal query, so the whole filter is still one narrow projection."""
    sig = q_quality_gopher(spark, sf_dir)
    mask = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, 1).otherwise(0)
        + F.when(F.col("n_words") > GOPHER_MAX_WORDS, 2).otherwise(0)
        + F.when(F.col("dup_token_bp") > GOPHER_MAX_DUP_TOKEN_BP, 4).otherwise(0)
        + F.when(F.col("top_token_bp") > GOPHER_MAX_TOP_TOKEN_BP, 8).otherwise(0)
        + F.when(F.col("dup_5gram_bp") > GOPHER_MAX_DUP5_BP, 16).otherwise(0)
    ).cast("long")
    return sig.select(
        "doc_id",
        mask.alias("reason_mask"),
        (mask == 0).alias("keep"),
    )


ORACLE_GOPHER_FILTER = f"""
    SELECT doc_id, reason_mask, reason_mask = 0 AS keep FROM (
        SELECT doc_id,
               (CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 1 ELSE 0 END
                + CASE WHEN n_words > {GOPHER_MAX_WORDS} THEN 2 ELSE 0 END
                + CASE WHEN dup_token_bp > {GOPHER_MAX_DUP_TOKEN_BP} THEN 4 ELSE 0 END
                + CASE WHEN top_token_bp > {GOPHER_MAX_TOP_TOKEN_BP} THEN 8 ELSE 0 END
                + CASE WHEN dup_5gram_bp > {GOPHER_MAX_DUP5_BP} THEN 16 ELSE 0 END
               )::BIGINT AS reason_mask
        FROM ({ORACLE_QUALITY_GOPHER})
    )
"""


#: decontamination n-gram order. Real pipelines use 8-13-grams on natural
#: text (GPT-3 App. C); this corpus draws ~40 word types, so 3-grams give
#: the same statistical regime (overlap present but not saturated —
#: measured 212/494 docs at sf0.01).
DECON_N = 3
DECON_EVAL_MOD = 97
DECON_EVAL_REMAINDER = 3


def _ngrams_expr(n: int) -> str:
    return (
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(1, size(words) - {n} + 1), "
        f"i -> array_join(slice(words, i, {n}), ' ')) "
        "ELSE array() END"
    )


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``DECON_N``-gram with the held-out evaluation slice (a deterministic
    doc_id residue class standing in for a real benchmark suite). Output
    per training doc: the number of overlapping n-gram positions and the
    contaminated flag — the report a pipeline acts on before training.

    Scale shape: the eval side of a decontamination is SMALL by nature
    (benchmarks are thousands of documents, the corpus is billions), so
    its distinct n-gram set BROADCASTS; the corpus side is one narrow
    explode → broadcast LEFT SEMI-tagged join → per-doc count — the fact
    stream shuffles once on doc_id for the count and never on gram
    strings."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == DECON_EVAL_REMAINDER
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    grams = w.select(
        "doc_id", F.explode(F.expr(_ngrams_expr(DECON_N))).alias("tok")
    )
    eval_grams = grams.filter(is_eval).select("tok").distinct()
    train = grams.filter(~is_eval)
    tagged = train.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "tok", "left"
    )
    return (
        tagged.groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("overlap_positions"))
        .select(
            "doc_id",
            "overlap_positions",
            (F.col("overlap_positions") > 0).alias("contaminated"),
        )
    )


ORACLE_DECONTAMINATE = f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words) - {DECON_N} + 2),
                      i -> array_to_string(words[i:i + {DECON_N} - 1], ' '))) AS tok
        FROM w WHERE len(words) >= {DECON_N}
    ), ev AS (
        SELECT DISTINCT tok FROM g
        WHERE doc_id % {DECON_EVAL_MOD} = {DECON_EVAL_REMAINDER}
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (tok IN (SELECT tok FROM ev)) AS BIGINT)
               AS overlap_positions,
           COUNT(*) FILTER (tok IN (SELECT tok FROM ev)) > 0 AS contaminated
    FROM g WHERE doc_id % {DECON_EVAL_MOD} <> {DECON_EVAL_REMAINDER}
    GROUP BY doc_id
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality proxy (the CCNet/C4 LM-filter shape
    with the corpus itself as the LM): per document, the sum of per-token
    log corpus frequencies ln(freq/total) and the token count — mean
    logprob = sum/n ranks documents by how typical their vocabulary is.

    Exactness: each token's logprob is integerized to MICRO-NATS
    (round(ln(p)·10⁶) as int64) BEFORE the per-doc SUM, so aggregation is
    exact integer arithmetic — order-independent under partial aggregation
    — and the only float op is the per-distinct-token ln, bit-identical
    across engines on identical integer ratios.

    Scale shape: the unigram table is one map-side-combinable groupBy
    over exploded tokens, output bounded by VOCABULARY (not corpus), and
    broadcasts back onto the token stream; the per-doc sum shuffles once
    on doc_id. Same skeleton as ``tf_vectorize``."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freqs = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    total = freqs.agg(F.sum("freq").alias("total"))
    lp = freqs.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log(F.col("freq").cast("double") / F.col("total").cast("double"))
            * 1_000_000
        )
        .cast("long")
        .alias("lp_unat"),
    )
    return (
        tok.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp_unat").alias("sum_lp_unat"),
        )
    )


ORACLE_UNIGRAM_LOGPROB = """
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, ' ')) AS tok
        FROM documents
    ), freqs AS (
        SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok
    ), lp AS (
        SELECT tok,
               CAST(ROUND(ln(freq::DOUBLE / (SELECT SUM(freq) FROM freqs)::DOUBLE)
                          * 1000000) AS BIGINT) AS lp_unat
        FROM freqs
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(lp_unat) AS BIGINT) AS sum_lp_unat
    FROM tok JOIN lp USING (tok)
    GROUP BY doc_id
"""


def q_corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-corpus decision — what an LLM data pipeline
    actually ships: per (non-eval) document, a drop-reason bitmask
    combining near-duplicate clustering (keep only the cluster's
    canonical minimum, reason 1), the Gopher quality rules (reason 2),
    and benchmark decontamination (reason 4); keep = mask 0. Every input
    is an already-oracle-checked stage (``dup_clusters``,
    ``gopher_filter``, ``decontaminate_ngram``) composed as ONE
    DataFrame plan — Catalyst sees the whole pipeline, so common scans
    dedupe and the three stages' doc_id-keyed outputs join on aligned
    partitioning."""
    clusters = q_dup_clusters(spark, sf_dir)
    quality = q_gopher_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_q")
    )
    contam = q_decontaminate_ngram(spark, sf_dir).select("doc_id", "contaminated")
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == DECON_EVAL_REMAINDER
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(~is_eval)
    j = (
        docs.join(clusters, "doc_id")
        .join(quality, "doc_id")
        .join(contam, "doc_id", "left")
    )
    mask = (
        F.when(F.col("cluster_id") != F.col("doc_id"), 1).otherwise(0)
        + F.when(~F.col("keep_q"), 2).otherwise(0)
        + F.when(F.coalesce(F.col("contaminated"), F.lit(False)), 4).otherwise(0)
    ).cast("long")
    return j.select("doc_id", mask.alias("drop_mask"), (mask == 0).alias("keep"))


ORACLE_CORPUS_KEEP = f"""
    WITH cl AS ({ORACLE_DUP_CLUSTERS}
    ), q AS ({ORACLE_GOPHER_FILTER}
    ), ct AS ({ORACLE_DECONTAMINATE}
    )
    SELECT doc_id, drop_mask, drop_mask = 0 AS keep FROM (
        SELECT d.doc_id,
               (CASE WHEN cl.cluster_id <> d.doc_id THEN 1 ELSE 0 END
                + CASE WHEN NOT q.keep THEN 2 ELSE 0 END
                + CASE WHEN COALESCE(ct.contaminated, FALSE) THEN 4 ELSE 0 END
               )::BIGINT AS drop_mask
        FROM documents d
        JOIN cl ON cl.doc_id = d.doc_id
        JOIN q ON q.doc_id = d.doc_id
        LEFT JOIN ct ON ct.doc_id = d.doc_id
        WHERE d.doc_id % {DECON_EVAL_MOD} <> {DECON_EVAL_REMAINDER}
    )
"""


# --------------------------------------------------------------------------
# pmi_collocations — bigram pointwise mutual information
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 100


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} bigram collocations by pointwise mutual information
    — PMI(a,b) = ln(P(ab) / (P(a)·P(b))) = ln(c_ab·N / (c_a·c_b)) — the
    classic phrase/multi-word-expression extractor (Church & Hanks 1990),
    over whitespace bigrams with corpus count ≥ {PMI_MIN_COUNT}.

    Exactness: follows the ``unigram_logprob`` convention — PMI is
    integerized to micro-nats via one ``ln`` per surviving bigram on a
    double built with a FIXED association order ((c_ab·N)/(c_a·c_b),
    each operand cast to double first), identical IEEE ops in both
    engines. The top-k order (pmi_unat DESC, w1, w2) is unique, so the
    LIMIT boundary is deterministic.

    Scale: bigrams are generated per row from the pre-split token array
    (zero shuffle), pair counts are one map-side-combinable groupBy, and
    the unigram table is vocabulary-bounded and broadcast twice (w1/w2).
    The ≥{PMI_MIN_COUNT} filter runs BEFORE the unigram joins, so the
    joined relation is the surviving-collocation set, not the raw bigram
    stream."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    # vocabulary-bounded and read twice (both marginal joins) — one tiny
    # checkpoint instead of two corpus token explodes (guide §3.3); the
    # bigram stream stays recomputed for the same reason as
    # bigram_logprob (corpus-sized, write ≈ re-explode)
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    # Spark's sequence(0, -1) DESCENDS instead of being empty — guard the
    # single-token doc (the DuckDB twin's generate_series(1, 0) is empty).
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    pairs = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= PMI_MIN_COUNT)
    )
    n_bigrams = bg.agg(F.count("*").alias("n_bigrams"))
    c1 = uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("cnt_w1"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("cnt_w2"))
    return (
        pairs.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            "cnt_w1",
            "cnt_w2",
            F.round(
                F.log(
                    (
                        F.col("pair_cnt").cast("double")
                        * F.col("n_bigrams").cast("double")
                    )
                    / (
                        F.col("cnt_w1").cast("double")
                        * F.col("cnt_w2").cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("pmi_unat"),
        )
        .orderBy(F.desc("pmi_unat"), "w1", "w2")
        .limit(PMI_TOPK)
    )


ORACLE_PMI = f"""
    WITH toks AS (
        SELECT regexp_split_to_array(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    bg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i
        )
    ),
    pairs AS (
        SELECT w1, w2, COUNT(*) AS pair_cnt FROM bg GROUP BY w1, w2
        HAVING COUNT(*) >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, pair_cnt, c1.cnt AS cnt_w1, c2.cnt AS cnt_w2,
           CAST(ROUND(ln((pair_cnt::DOUBLE * (SELECT COUNT(*) FROM bg)::DOUBLE)
                         / (c1.cnt::DOUBLE * c2.cnt::DOUBLE))
                      * 1000000) AS BIGINT) AS pmi_unat
    FROM pairs
    JOIN uni c1 ON c1.tok = w1
    JOIN uni c2 ON c2.tok = w2
    ORDER BY pmi_unat DESC, w1, w2
    LIMIT {PMI_TOPK}
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model score per document — the next
    rung above ``unigram_logprob`` on the CCNet/KenLM perplexity-filter
    ladder: p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N with λ = 3/4,
    summed in micro-nats over each document's consecutive token pairs
    (plus the pair count, so mean logprob = sum/n). Backoff to the
    unigram term keeps every observed pair finite without add-k
    smoothing. Single-token documents have no bigrams and are absent
    by definition.

    Exactness: the ``unigram_logprob`` convention — ONE ln per distinct
    corpus bigram over a double built with a FIXED expression tree
    (0.75·(c₁₂/c₁) + 0.25·(c₂/N), every operand cast to double first,
    written as the same SQL text in both engines), integerized to
    micro-nats BEFORE the per-doc sum, so aggregation is exact integer
    arithmetic in any partial-agg order.

    Scale shape: bigrams generate per row from the pre-split array
    (zero shuffle, the ``pmi_collocations`` skeleton); the model table
    is bounded by DISTINCT BIGRAMS (vocab-scale, not corpus-scale),
    built with one combinable groupBy + two broadcast unigram joins;
    scoring is one equi-join of the doc-bigram stream against the model
    and one doc_id-keyed sum — two data-sized shuffles total."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    # the unigram table is read three times (both backoff joins + the
    # corpus total) and each un-materialized reference re-exploded the
    # corpus token stream; it is vocabulary-bounded, so one tiny
    # checkpoint removes two full scans (guide §3.3). The bigram stream
    # (2 references: pair counts + scoring) is deliberately NOT
    # materialized — it is corpus-sized, so a checkpoint write costs
    # about what the second explode does; recompute keeps the memory
    # footprint flat instead.
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    n_total = uni.agg(F.sum("cnt").alias("n_total"))
    # sequence(0, -1) descends instead of being empty — guard 1-token docs
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("c1"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("c2"))
    model = (
        pairs.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.expr(
                "CAST(ROUND(ln(0.75 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))"
                " + 0.25 * (CAST(c2 AS DOUBLE) / CAST(n_total AS DOUBLE)))"
                " * 1000000) AS BIGINT)"
            ).alias("lp_unat"),
        )
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_unat").alias("sum_lp_unat"),
        )
    )


ORACLE_BIGRAM_LOGPROB = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i
        )
    ),
    pairs AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
    ),
    model AS (
        SELECT w1, w2,
               CAST(ROUND(ln(0.75 * (CAST(c12 AS DOUBLE) / CAST(c1.cnt AS DOUBLE))
                             + 0.25 * (CAST(c2.cnt AS DOUBLE)
                                       / CAST((SELECT SUM(cnt) FROM uni) AS DOUBLE)))
                          * 1000000) AS BIGINT) AS lp_unat
        FROM pairs
        JOIN uni c1 ON c1.tok = w1
        JOIN uni c2 ON c2.tok = w2
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(lp_unat) AS BIGINT) AS sum_lp_unat
    FROM bg JOIN model USING (w1, w2)
    GROUP BY doc_id
"""


QUERIES = {
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "simhash_near_dup": q_simhash_near_dup,
    "quality_gopher": q_quality_gopher,
    "stratified_sample": q_stratified_sample,
    "tf_vectorize": q_tf_vectorize,
    "dup_clusters": q_dup_clusters,
    "dup_clusters_star": q_dup_clusters_star,
    "minhash_incremental": q_minhash_incremental,
    "tfidf_weights": q_tfidf_weights,
    "gopher_filter": q_gopher_filter,
    "decontaminate_ngram": q_decontaminate_ngram,
    "unigram_logprob": q_unigram_logprob,
    "corpus_keep_list": q_corpus_keep_list,
    "pmi_collocations": q_pmi_collocations,
    "bigram_logprob": q_bigram_logprob,
}

ORACLE = {
    "token_count": ORACLE_TOKEN_COUNT,
    "quality_score": ORACLE_QUALITY_SCORE,
    "lang_id": _sql_lang_votes(),
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "ngram_jaccard_dedup": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": _sql_minhash_bands(),
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "simhash_near_dup": ORACLE_SIMHASH_NEAR_DUP,
    "quality_gopher": ORACLE_QUALITY_GOPHER,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "tf_vectorize": ORACLE_TF_VECTORIZE,
    "dup_clusters": ORACLE_DUP_CLUSTERS,
    "dup_clusters_star": ORACLE_DUP_CLUSTERS,
    "minhash_incremental": _sql_minhash_incremental(),
    "tfidf_weights": ORACLE_TFIDF_WEIGHTS,
    "gopher_filter": ORACLE_GOPHER_FILTER,
    "decontaminate_ngram": ORACLE_DECONTAMINATE,
    "unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
    "corpus_keep_list": ORACLE_CORPUS_KEEP,
    "pmi_collocations": ORACLE_PMI,
    "bigram_logprob": ORACLE_BIGRAM_LOGPROB,
}
