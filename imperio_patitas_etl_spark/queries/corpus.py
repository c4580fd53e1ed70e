"""Corpus-preparation operators for LLM training-data pipelines (r7).

Extends the text tier (queries/text.py) with the sequence-assembly and
policy stages that sit BETWEEN cleaning/dedup and the trainer:

- ``chunk_sequences``   — split long documents into fixed-token windows;
- ``pack_sequences``    — concatenation-pack short documents into
                          fixed-token training bins;
- ``span_dedup``        — C4-style global duplicate-span removal;
- ``intra_doc_dedup``   — within-document repetition collapse;
- ``pii_redact``        — regex PII scrubbing with per-doc match counts;
- ``domain_mixture``    — exact target-mixture reweighting summary;
- ``domain_mixture_sample`` — the per-document keep decision for it;
- ``bpe_pair_merge``    — one BPE vocabulary-training iteration.

Everything follows the repo-wide oracle discipline: deterministic
integer/bp arithmetic wherever a float could drift between engines, the
shared ``md5``-based cross-engine hash for sampling/ordering, and a
DuckDB oracle per key. No reference-repo counterpart exists for these
(the reference at /root/reference is a 4-entity retail ETL); they are the
scale-tier operators the brief asks for beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.functions.cleaning import md5int, sql_md5int
from imperio_patitas_etl_spark.operators.prefix_sum import (
    partitioned_prefix_sum,
)
from imperio_patitas_etl_spark.sources.parquet import load_table

# --------------------------------------------------------------------------
# chunk_sequences — fixed-window document chunking
# --------------------------------------------------------------------------

CHUNK_TOKENS = 64


def q_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into consecutive CHUNK_TOKENS-token windows —
    the "long document → training sequences" stage. One row per
    (doc, chunk) with the chunk's token count and first token.

    Scale: a pure per-row explode — zero shuffle, embarrassingly
    parallel, and the output partitioning inherits the scan's, so the
    downstream tokenizer/writer sees the same layout. At 100 TB this is
    the shape you want: no key, no skew, no state."""
    d = load_table(spark, sf_dir, "documents")
    L = CHUNK_TOKENS
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_tok"),
            F.explode(
                F.sequence(F.lit(0), F.floor((n - 1) / L).cast("int"))
            ).alias("chunk_id"),
            toks.alias("toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(L), F.col("n_tok") - F.col("chunk_id") * L)
            .cast("long")
            .alias("chunk_tok"),
            F.element_at("toks", F.col("chunk_id") * L + 1).alias("first_tok"),
        )
    )


ORACLE_CHUNK_SEQUENCES = f"""
    SELECT doc_id,
           chunk_id,
           LEAST({CHUNK_TOKENS}, n_tok - chunk_id * {CHUNK_TOKENS}) AS chunk_tok,
           toks[chunk_id * {CHUNK_TOKENS} + 1] AS first_tok
    FROM (
        SELECT doc_id,
               string_split(text, ' ') AS toks,
               CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    LATERAL (
        SELECT unnest(generate_series(
                   0::BIGINT,
                   CAST(floor((n_tok - 1) / {CHUNK_TOKENS}) AS BIGINT)
               )) AS chunk_id
    )
"""


# --------------------------------------------------------------------------
# pack_sequences — concatenation packing into fixed token budgets
# --------------------------------------------------------------------------

PACK_BUDGET = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-pack documents into PACK_BUDGET-token training bins,
    per source, in doc_id order: each document is assigned to the bin in
    which its FIRST token lands when the source's documents are laid out
    contiguously (the standard pack-with-boundary-crossing layout). One
    summary row per (source, bin): docs, tokens, fill vs budget in bp
    (can exceed 10000 — the straddling doc's tail belongs to the next
    bin but is counted with its head, which is exactly how contiguous
    packing behaves).

    Scale: one window shuffle partitioned by ``source``. Real pipelines
    pack within a shard/file rather than globally for the same reason —
    the assignment only needs a stable order WITHIN a partition-sized
    unit, never a global sort. Skewed sources shard first (the
    sessionize_sharded pattern)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select("doc_id", "source", n.alias("n_tok"))
    placed = toks.select(
        "source",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("start_tok"),
    ).select(
        "source",
        "n_tok",
        # integral `div`, not float-divide-then-cast: at warehouse scale
        # start_tok is an unbounded running sum, and the repo rule is
        # that bucketing arithmetic never rides a double
        F.expr(f"start_tok div {PACK_BUDGET}").alias("bin_id"),
    )
    return (
        placed.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "source",
            "bin_id",
            "n_docs",
            "n_tokens",
            F.expr(f"(n_tokens * 10000) div {PACK_BUDGET}").alias("fill_bp"),
        )
    )


ORACLE_PACK_SEQUENCES = f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    placed AS (
        SELECT source, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {PACK_BUDGET} AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tok) * 10000 // {PACK_BUDGET} AS BIGINT) AS fill_bp
    FROM placed
    GROUP BY source, bin_id
"""


# --------------------------------------------------------------------------
# span_dedup — C4-style global duplicate-span removal
# --------------------------------------------------------------------------

SPAN_TOKENS = 10


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span deduplication: cut each document into consecutive
    SPAN_TOKENS-token spans, drop every later occurrence of a span seen
    anywhere in the corpus (first occurrence in (doc_id, span_idx) order
    wins), and reassemble each document from its surviving spans. C4 does
    this with three-sentence spans; the testdata has no sentence
    boundaries, so fixed token windows stand in.

    Scale: two shuffles, both on keys whose cardinality grows with the
    corpus — (1) the first-occurrence window partitions by the span HASH
    (not the span text, so wide spans never travel as shuffle keys);
    (2) the reassembly groups by doc_id. No driver state, no broadcast
    of anything corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    W = SPAN_TOKENS
    # split once per row; the lambda slices the PRE-SPLIT array (split()
    # inside a transform body re-evaluates per element — Catalyst does
    # not CSE into lambda scopes)
    spans = F.expr(
        f"transform(sequence(0, CAST(ceil(size(t) / {W}) AS INT) - 1), "
        f"i -> array_join(slice(t, i * {W} + 1, {W}), ' '))"
    )
    exploded = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.posexplode(spans).alias("span_idx", "span"))
        .select(
            "doc_id",
            F.col("span_idx").cast("long").alias("span_idx"),
            "span",
            F.expr(md5int("span")).alias("span_h"),
        )
    )
    first = Window.partitionBy("span_h").orderBy("doc_id", "span_idx")
    kept = (
        exploded.select(
            "doc_id",
            "span_idx",
            "span",
            F.row_number().over(first).alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_idx", "span"))
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .select("doc_id", "n_kept_spans", "kept_text")
    )


ORACLE_SPAN_DEDUP = f"""
    WITH exploded AS (
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS span_idx,
               array_to_string(
                   list_slice(string_split(text, ' '),
                              (i - 1) * {SPAN_TOKENS} + 1,
                              i * {SPAN_TOKENS}), ' ') AS span
        FROM documents,
        LATERAL (
            SELECT unnest(generate_series(
                1::BIGINT,
                CAST(ceil(length(string_split(text, ' ')) / {SPAN_TOKENS}.0)
                     AS BIGINT))) AS i
        )
    ),
    ranked AS (
        SELECT doc_id, span_idx, span,
               ROW_NUMBER() OVER (PARTITION BY {sql_md5int('span')}
                                  ORDER BY doc_id, span_idx) AS rn
        FROM exploded
    )
    SELECT doc_id,
           COUNT(*) AS n_kept_spans,
           string_agg(span, ' ' ORDER BY span_idx) AS kept_text
    FROM ranked WHERE rn = 1
    GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# pii_redact — regex PII scrubbing with match accounting
# --------------------------------------------------------------------------

# Portable across Java regex (Spark) and RE2-ish (DuckDB): no lookaround,
# no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+56 9 [0-9]{8}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text: replace emails / phone numbers with typed
    placeholders and account for every replacement. The corpus text is
    synthetic and PII-free, so a deterministic contact trailer (derived
    from doc_id by pure arithmetic — identical in both engines) is
    appended first; the scrubber then provably finds and removes it.

    Scale: narrow per-row regex work, zero shuffle, pushed right after
    the scan. The match COUNTS travel to the audit sink instead of the
    matched text — the usual compliance requirement (prove you scrubbed
    without logging what you scrubbed)."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +56 9 "),
        F.lpad(((F.col("doc_id") * 7919) % 100000000).cast("string"), 8, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.length(red).cast("long").alias("redacted_len"),
    )


ORACLE_PII_REDACT = f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +56 9 '
                    || lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')
                   AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(length(regexp_extract_all(t, '\\+56 9 [0-9]{{8}}')) AS BIGINT)
               AS n_phones,
           CAST(length(
               regexp_replace(
                   regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '\\+56 9 [0-9]{{8}}', '<PHONE>', 'g')
           ) AS BIGINT) AS redacted_len
    FROM aug
"""


# --------------------------------------------------------------------------
# domain_mixture — exact target-mixture reweighting
# --------------------------------------------------------------------------

# Target mixture over the 20 sources: source srcK gets weight (K+1)/210
# (sum(1..20) = 210) — a deliberately skewed target so the op does real
# rebalancing work on the uniform testdata.
MIX_DEN = 210


def _mix_num(source_col):
    # srcK -> K+1, the integer numerator of the target share.
    return F.substring(source_col, 4, 8).cast("long") + 1


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: given a target share per source,
    compute the LARGEST subcorpus achieving the target mixture exactly
    and each source's resulting keep quota / keep rate. All integer
    arithmetic: T = min_k floor(count_k * DEN / num_k) bounds the total,
    kept_k = T * num_k // DEN.

    Scale: one map-side-combinable groupBy to 20 rows, then a driverless
    min over those 20 via an unpartitioned window ON THE 20-ROW
    AGGREGATE (constant-size input — the global window that is an
    anti-pattern on row data is free here)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    num = _mix_num(F.col("source"))
    # all quota arithmetic in integral `div`:
    # counts are unbounded at warehouse scale, and a double quotient one
    # ulp under an exact integer truncates to quota-1
    sized = counts.select(
        "source",
        "n_docs",
        num.alias("mix_num"),
        F.expr(f"(n_docs * {MIX_DEN}) div (CAST(substr(source, 4) AS BIGINT) + 1)")
        .alias("t_bound"),
    )
    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        sized.select(
            "source",
            "n_docs",
            "mix_num",
            F.min("t_bound").over(w).alias("t_total"),
        )
        .select(
            "source",
            "n_docs",
            F.expr(f"(mix_num * 10000) div {MIX_DEN}").alias("target_bp"),
            F.expr(f"(t_total * mix_num) div {MIX_DEN}").alias("kept"),
        )
        .select(
            "source",
            "n_docs",
            "target_bp",
            "kept",
            F.expr("(kept * 10000) div n_docs").alias("keep_rate_bp"),
        )
    )


_SQL_MIX_SIZED = f"""
        SELECT source, n_docs,
               CAST(substr(source, 4) AS BIGINT) + 1 AS mix_num,
               n_docs * {MIX_DEN} // (CAST(substr(source, 4) AS BIGINT) + 1)
                   AS t_bound
        FROM (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
"""

ORACLE_DOMAIN_MIXTURE = f"""
    WITH sized AS ({_SQL_MIX_SIZED}),
    capped AS (
        SELECT source, n_docs, mix_num, MIN(t_bound) OVER () AS t_total
        FROM sized
    )
    SELECT source, n_docs,
           mix_num * 10000 // {MIX_DEN} AS target_bp,
           t_total * mix_num // {MIX_DEN} AS kept,
           (t_total * mix_num // {MIX_DEN}) * 10000 // n_docs AS keep_rate_bp
    FROM capped
"""


def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document decision for ``domain_mixture``: within each
    source, rank documents by the deterministic md5 hash (doc_id
    tie-break) and keep exactly the source's quota — a reproducible,
    RNG-free exact-count sample (the stratified_sample path trades the
    exact count for a rankless hash threshold; this one needs the count).

    Scale: the quota table is 20 rows (broadcast); the rank is one
    window shuffle on ``source``. A skewed source shards first, ranks
    per shard, and stitches quotas by shard prefix sums — the
    sessionize_sharded construction — which keeps no partition larger
    than a shard."""
    quotas = q_domain_mixture(spark, sf_dir).select("source", "kept")
    d = load_table(spark, sf_dir, "documents")
    h = F.expr(md5int("concat('mix_', CAST(doc_id AS STRING))"))
    ranked = d.select(
        "doc_id", "source", F.row_number()
        .over(Window.partitionBy("source").orderBy(h, "doc_id"))
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rk") <= F.col("kept"))
        .select("doc_id", "source")
    )


ORACLE_DOMAIN_MIXTURE_SAMPLE = f"""
    WITH sized AS ({_SQL_MIX_SIZED}),
    quotas AS (
        SELECT source,
               MIN(t_bound) OVER () * mix_num // {MIX_DEN} AS kept
        FROM sized
    ),
    ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {sql_md5int("'mix_' || CAST(doc_id AS VARCHAR)")},
                            doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, ranked.source
    FROM ranked JOIN quotas ON ranked.source = quotas.source
    WHERE rk <= kept
"""


# --------------------------------------------------------------------------
# intra_doc_dedup — within-document repetition removal
# --------------------------------------------------------------------------


def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document span dedup: drop repeats of a span INSIDE the
    same document (first occurrence wins), keep cross-document repeats —
    the complement of ``span_dedup``'s corpus-global pass, and the
    C4-style boilerplate-collapse you run BEFORE global dedup so that a
    page's own navigation chrome doesn't dominate its signature.

    Scale: no window needed — first-occurrence-within-doc is a
    ``groupBy(doc_id, span) → min(span_idx)`` (map-side combinable,
    unlike a row_number window which must sort), then one reassembly
    groupBy on doc_id. Both shuffles carry (doc_id, hash)-keyed skinny
    rows."""
    d = load_table(spark, sf_dir, "documents")
    W = SPAN_TOKENS
    # pre-split, as in span_dedup: no split() inside the lambda
    spans = F.expr(
        f"transform(sequence(0, CAST(ceil(size(t) / {W}) AS INT) - 1), "
        f"i -> array_join(slice(t, i * {W} + 1, {W}), ' '))"
    )
    exploded = d.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", F.posexplode(spans).alias("span_idx", "span")
    )
    kept = exploded.groupBy("doc_id", "span").agg(
        F.min("span_idx").cast("long").alias("span_idx")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .select("doc_id", "n_kept_spans", "kept_text")
    )


ORACLE_INTRA_DOC_DEDUP = f"""
    WITH exploded AS (
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS span_idx,
               array_to_string(
                   list_slice(string_split(text, ' '),
                              (i - 1) * {SPAN_TOKENS} + 1,
                              i * {SPAN_TOKENS}), ' ') AS span
        FROM documents,
        LATERAL (
            SELECT unnest(generate_series(
                1::BIGINT,
                CAST(ceil(length(string_split(text, ' ')) / {SPAN_TOKENS}.0)
                     AS BIGINT))) AS i
        )
    ),
    kept AS (
        SELECT doc_id, span, MIN(span_idx) AS span_idx
        FROM exploded GROUP BY doc_id, span
    )
    SELECT doc_id,
           COUNT(*) AS n_kept_spans,
           string_agg(span, ' ' ORDER BY span_idx) AS kept_text
    FROM kept GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# bpe_pair_merge — one BPE training iteration (top adjacent-pair merges)
# --------------------------------------------------------------------------

BPE_TOPK = 20


def q_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-style vocabulary training step: count ADJACENT token
    pairs across the corpus and rank the top merge candidates
    (count desc, then lexicographic — fully deterministic). Real BPE
    iterates this to a vocab budget; each iteration is exactly this
    plan over the re-tokenized corpus.

    Scale: pairs are generated per row by zipping the token array with
    its own tail — zero joins, zero extra shuffle for pair formation;
    the count is a combinable groupBy on the pair key (cardinality ≤
    vocab², in practice Zipf-bounded) and the top-k compiles to
    TakeOrderedAndProject (per-partition heaps, k rows to the driver)."""
    d = load_table(spark, sf_dir, "documents")
    # split ONCE per row, then zip the token array with its own tail —
    # the transform/element_at form re-evaluates split() per pair
    # element (Catalyst does not CSE inside lambda bodies), turning an
    # O(tokens) row into O(tokens²) string splitting
    toks = d.select(F.split("text", " ").alias("t"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(BPE_TOPK)
    )


ORACLE_BPE_PAIR_MERGE = f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t,
               length(string_split(text, ' ')) AS n
        FROM documents
    ),
    pairs AS (
        SELECT t[i] AS a, t[i + 1] AS b
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1::BIGINT, CAST(n - 1 AS BIGINT))) AS i
        )
    )
    SELECT a, b, COUNT(*) AS n FROM pairs GROUP BY a, b
    ORDER BY n DESC, a, b LIMIT {BPE_TOPK}
"""


# --------------------------------------------------------------------------
# pps_systematic_sample — probability-proportional-to-size sampling
# --------------------------------------------------------------------------

#: Sample points per stratum. Classic PPS systematic sampling (Madow &
#: Madow 1944; the workhorse of survey statistics): lay k equally-spaced
#: points on the stratum's cumulative-weight axis at (2j+1)·T/(2k) and
#: take the document whose cumulative interval contains each point. A
#: document with weight ≥ T/k can be hit more than once (n_hits is its
#: integer multiplicity) — exactly the "long documents contribute more
#: training sequences" semantics a token-budgeted corpus sampler wants.
PPS_K = 8


def q_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample: per source stratum,
    {PPS_K} systematic points over the n_chars cumulative axis in
    doc_id order. Zero floats — selection is pure integer interval
    arithmetic (n_hits = pts_below(cum) − pts_below(cum − w) with
    pts_below(x) = (2kx + T − 1) div 2T), so Spark and the oracle agree
    bit-for-bit at any scale.

    Scale: the cumulative weights come from
    ``operators/prefix_sum.py:partitioned_prefix_sum`` — the two-phase
    Blelloch scan over a range-partitioned layout — NOT from a
    ``Window.partitionBy(source)`` running sum, which would serialize
    each stratum into a single task (with ~20 sources over 100 TB,
    that is a 20-task job). Stratum totals are a stratum-cardinality
    aggregate broadcast back onto the cumulative relation."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("w")
    )
    cum = partitioned_prefix_sum(d, "source", ["doc_id"], "w", "cum")
    # stratum totals from the INPUT relation (Σw = max cum by
    # construction): reading them from `cum` re-ran the whole Arrow
    # prefix pass a second time per call — every reference to a
    # mapInPandas output is a separate Python pass (guide §4.1)
    tot = d.groupBy("source").agg(F.sum("w").alias("t"))
    k = PPS_K
    pts = "((2*{k}*{x} + t - 1) div (2*t))"
    n_hits = (
        f"{pts.format(k=k, x='cum')} - {pts.format(k=k, x='(cum - w)')}"
    )
    return (
        cum.join(F.broadcast(tot), "source")
        .select(
            "source",
            "doc_id",
            "w",
            "cum",
            F.expr(n_hits).alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )


ORACLE_PPS_SAMPLE = f"""
    WITH c AS (
        SELECT source, doc_id, n_chars AS w,
               CAST(SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM documents
    ),
    t AS (SELECT source, MAX(cum) AS t FROM c GROUP BY source)
    SELECT * FROM (
        SELECT c.source, doc_id, w, cum,
               ((2*{PPS_K}*cum + t.t - 1) // (2*t.t))
               - ((2*{PPS_K}*(cum - w) + t.t - 1) // (2*t.t)) AS n_hits
        FROM c JOIN t ON c.source = t.source
    ) WHERE n_hits >= 1
"""


# --------------------------------------------------------------------------
# weighted_sample_aes — weighted sampling without replacement (A-ES)
# --------------------------------------------------------------------------

AES_K = 100
_AES_SCALE = 1152921504606846976.0  # 2^60 as an exact double


def q_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sampling without replacement — Efraimidis-Spirakis
    A-ES (2006): each row draws u ∈ (0,1] and keeps priority u^(1/w);
    the k largest priorities ARE an exact weighted sample without
    replacement. Ranking by ln(u)/w (monotone in u^(1/w)) avoids the
    pow() and keeps one ``ln`` per row; u = (h+1)/2^60 from the shared
    md5 hash makes the "random" draw reproducible and oracle-checkable.
    This is how you take a length-weighted corpus subsample (here
    w = n_chars) in ONE scan with no global RNG state — ``stratified_
    sample`` keeps fixed rates per stratum, ``pps_systematic_sample``
    needs the prefix-sum pass; A-ES is the one-pass top-k that PPS
    pipelines use at ingest.

    Exactness: priority is integerized to pico-units
    (round(ln(u)/w · 10¹²) as int64) before ranking — one ln per row on
    a double built with a fixed expression tree; (priority, doc_id) is
    a total order, so the top-{AES_K} boundary is deterministic even if
    two priorities collide after rounding.

    Scale shape: priorities compute per row with zero shuffle;
    the global top-k compiles to TakeOrderedAndProject (per-partition
    heaps of k, single k-row merge at the driver) — no sort, no
    repartition, the same plan shape as ``topk_per_group``'s global
    variant. At 100 TB the only cross-node traffic is k rows per
    partition."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = md5int("concat('aes_', CAST(doc_id AS STRING))")
    pr = d.select(
        "doc_id",
        F.col("n_chars").alias("w"),
        F.expr(
            f"CAST(ROUND(ln((CAST({h} AS DOUBLE) + 1.0) / {_AES_SCALE!r})"
            " / CAST(n_chars AS DOUBLE) * 1000000000000) AS BIGINT)"
        ).alias("priority_punits"),
    )
    return pr.orderBy(F.desc("priority_punits"), "doc_id").limit(AES_K)


ORACLE_WEIGHTED_SAMPLE_AES = f"""
    SELECT doc_id, n_chars AS w,
           CAST(ROUND(ln((CAST({sql_md5int("'aes_' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 1.0)
                         / {_AES_SCALE!r})
                      / CAST(n_chars AS DOUBLE) * 1000000000000) AS BIGINT)
               AS priority_punits
    FROM documents
    WHERE n_chars > 0
    ORDER BY priority_punits DESC, doc_id
    LIMIT {AES_K}
"""


QUERIES = {
    "chunk_sequences": q_chunk_sequences,
    "pack_sequences": q_pack_sequences,
    "span_dedup": q_span_dedup,
    "pii_redact": q_pii_redact,
    "domain_mixture": q_domain_mixture,
    "domain_mixture_sample": q_domain_mixture_sample,
    "bpe_pair_merge": q_bpe_pair_merge,
    "intra_doc_dedup": q_intra_doc_dedup,
    "pps_systematic_sample": q_pps_systematic_sample,
    "weighted_sample_aes": q_weighted_sample_aes,
}

ORACLE = {
    "chunk_sequences": ORACLE_CHUNK_SEQUENCES,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "span_dedup": ORACLE_SPAN_DEDUP,
    "pii_redact": ORACLE_PII_REDACT,
    "domain_mixture": ORACLE_DOMAIN_MIXTURE,
    "domain_mixture_sample": ORACLE_DOMAIN_MIXTURE_SAMPLE,
    "bpe_pair_merge": ORACLE_BPE_PAIR_MERGE,
    "intra_doc_dedup": ORACLE_INTRA_DOC_DEDUP,
    "pps_systematic_sample": ORACLE_PPS_SAMPLE,
    "weighted_sample_aes": ORACLE_WEIGHTED_SAMPLE_AES,
}
