"""Oracle-checked probe of the multimodal (binary + Pandas UDF) path.

The media operators (operators/multimodal.py) run on synthetic binary
content; the driver's tables have no binary column, so the oracle-checked
probe materializes one — ``encode(text)`` on ``documents`` — and runs the
REAL plumbing: an Arrow-batched ``mapInPandas`` computing per-asset byte
stats in Python. DuckDB replicates the stats on the same UTF-8 bytes
(ASCII corpus, so ``ascii()`` equals the first byte).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imperio_patitas_etl_spark.sources.parquet import load_table

_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_byte", T.IntegerType()),
    ]
)


def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing over a real table: text → binary →
    mapInPandas byte stats (the same batch shape resize_media uses)."""
    # coalesce: the documents table is small relative to the executor
    # count — 4 Arrow batches beat 32 near-empty Python workers. At real
    # scale the equivalent sizing lever is arrow.maxRecordsPerBatch.
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
        .coalesce(4)
    )

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [bytes(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "head_byte": [b[0] if b else None for b in raw],
                }
            )

    return d.mapInPandas(_stats, _OUT)


ORACLE_MULTIMODAL = """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           ascii(text) AS head_byte
    FROM documents
"""


def q_multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing over a real table: text → binary →
    mapInPandas byte-histogram features (operators/multimodal.py:
    extract_features). dim=4 buckets bytes at 0x40 boundaries; the corpus
    is ASCII, so bucket 0 = bytes < 0x40 and bucket 1 = bytes ≥ 0x40, which
    DuckDB replicates with regexp character-class counts. The division
    count/len is the same IEEE double op in both engines — no rounding
    needed."""
    from imperio_patitas_etl_spark.operators.multimodal import extract_features

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("asset_id"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
        )
        .coalesce(4)
    )
    feats = extract_features(d, dim=4)
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        F.element_at("features", 1).alias("f_low"),
        F.element_at("features", 2).alias("f_high"),
    )


ORACLE_FEATURES = r"""
    SELECT doc_id,
           (length(text) - length(regexp_replace(text, '[\x00-\x3F]', '', 'g')))::DOUBLE
               / length(text) AS f_low,
           length(regexp_replace(text, '[\x00-\x3F]', '', 'g'))::DOUBLE
               / length(text) AS f_high
    FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing over a real table (operators/
    multimodal.py:sample_frames): synthetic video assets derive their
    frame count from documents (n_frames = n_chars % 40 + 5), the
    operator explodes the frame index space FROM METADATA — pure JVM,
    no UDF, no content decode — and keeps every 10th frame with a
    stable frame reference. This is the real shape of frame sampling
    at scale: the index explode is metadata-only; only the KEPT frames
    would ever chain into the decode ``mapInPandas``."""
    from imperio_patitas_etl_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.expr("CAST(n_chars % 40 + 5 AS INT)").alias("n_frames"),
            F.lit("synt").alias("format"),
        ).alias("meta"),
    )
    return sample_frames(d, every_n=10).select(
        F.col("asset_id").alias("doc_id"), "frame_idx", "frame_ref"
    )


ORACLE_FRAME_SAMPLE = """
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           doc_id || ':' || f AS frame_ref
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0, n_chars % 40 + 4)) AS f)
    WHERE f % 10 = 0
"""


def q_multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over a real table (operators/multimodal.py:
    resize_media): text→binary media rows run the REAL Arrow-batched
    resize pass (header rewrite + body resample to the 32×24 target —
    the pixel work is the documented deterministic fake; schema, batch
    iteration and meta update are production-shaped), then publish
    byte-level evidence DuckDB can recompute: output size collapses to
    the fixed target for non-empty bodies, the body head byte is the
    source's 9th byte, and meta carries the new dimensions."""
    from imperio_patitas_etl_spark.operators.multimodal import resize_media

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit("image").alias("kind"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
            F.struct(
                F.lit(0).cast("int").alias("width"),
                F.lit(0).cast("int").alias("height"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
                F.lit("synt").alias("format"),
            ).alias("meta"),
        )
        .coalesce(4)
    )
    out = resize_media(d, out_w=32, out_h=24)
    return out.select(
        F.col("asset_id").alias("doc_id"),
        F.expr("CAST(octet_length(content) AS BIGINT)").alias("n_bytes_out"),
        # byte 9 of the binary = hex chars 17-18 (binary-safe extraction)
        F.expr(
            "CAST(conv(substr(hex(content), 17, 2), 16, 10) AS INT)"
        ).alias("body_head_byte"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


#: 32·24 % 97 + 32 = target body bytes; + 8 header. Empty source body
#: (len(text) ≤ 8) resizes to header only.
_RESIZE_OUT_BYTES = 32 * 24 % 97 + 32 + 8

ORACLE_RESIZE = f"""
    SELECT doc_id,
           CASE WHEN length(text) > 8 THEN {_RESIZE_OUT_BYTES}
                ELSE 8 END::BIGINT AS n_bytes_out,
           CASE WHEN length(text) > 8 THEN ascii(substr(text, 9, 1))
                ELSE NULL END AS body_head_byte,
           32 AS width, 24 AS height
    FROM documents
"""


QUERIES = {
    "multimodal_decode_stub": q_multimodal_decode_stub,
    "multimodal_feature_extract": q_multimodal_feature_extract,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize_stub": q_multimodal_resize_stub,
}
ORACLE = {
    "multimodal_decode_stub": ORACLE_MULTIMODAL,
    "multimodal_feature_extract": ORACLE_FEATURES,
    "multimodal_frame_sample": ORACLE_FRAME_SAMPLE,
    "multimodal_resize_stub": ORACLE_RESIZE,
}
