"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed by Arrow-batched Pandas UDFs (``mapInPandas``).

Large-scale training-data pipelines carry media alongside text; the Spark
pattern is:

- content is an opaque ``BinaryType`` column — Spark never interprets it;
- typed metadata (width/height/sample-rate/frames) travels in a struct
  column so filters/joins on it stay JVM-side and pushdown-capable;
- per-asset compute (resize, feature extraction) runs in
  ``mapInPandas`` — Arrow ships binary batches to Python with zero-copy,
  and ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
  (decoded media is far larger than its compressed bytes);
- partitioning: ``repartition(n, 'asset_id')`` before the UDF spreads
  decode cost evenly; at 100 TB the table would be stored bucketed by
  asset_id so the shuffle disappears.

The codec step is a deterministic fake: ``resize_media`` rewrites this
module's synthetic header (``SYNT`` + big-endian width/height) instead of
resampling pixels. The Spark-side plumbing — schemas, UDF signatures,
Arrow batch shapes, partitioning — is real and tested
(tests/test_multimodal.py, whose fixture writes that header).
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: media table: opaque content + typed metadata struct
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), nullable=False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)

#: synthetic header: magic 'SYNT' + u16 width + u16 height (big-endian)
_MAGIC = b"SYNT"


def resize_media(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize plumbing: new content + updated meta. The pixel resample is a
    deterministic fake (header rewrite + body truncation/padding) — a real
    deployment swaps ``_fake_resize`` for a codec call; everything else
    (schema, batch iteration, meta update) is production-shaped."""

    def _fake_resize(content: bytes) -> bytes:
        body = content[8:]
        target = out_w * out_h % 97 + 32
        body = (body * (target // max(len(body), 1) + 1))[:target]
        return _MAGIC + _struct.pack(">HH", out_w, out_h) + body

    out_schema = MEDIA_SCHEMA

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [_fake_resize(bytes(c)) for c in pdf["content"]]
            pdf["meta"] = [
                {**(m if isinstance(m, dict) else m.asDict()), "width": out_w, "height": out_h}
                for m in pdf["meta"]
            ]
            yield pdf

    return df.mapInPandas(_resize, out_schema)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(df: DataFrame, dim: int = 16, id_col: str = "asset_id") -> DataFrame:
    """Feature extraction: binary content → fixed-``dim`` float vector.

    The feature function is a deterministic byte-value histogram (``dim``
    equal-width buckets over 0..255, L1-normalized) — a real deployment
    swaps it for a model forward pass; the Spark shape is identical either
    way: Arrow-batched ``mapInPandas``, one bounded batch in Python at a
    time, ``array<double>`` out, ready to feed the ANN/dedup operators
    (operators/dedup.py, queries/vector.py) downstream."""
    width = 256 // dim

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for c in pdf["content"]:
                b = bytes(c)
                hist = [0] * dim
                for byte in b:
                    hist[byte // width] += 1
                n = max(len(b), 1)
                feats.append([h / n for h in hist])
            yield pd.DataFrame({"asset_id": pdf[id_col], "features": feats})

    return df.mapInPandas(_featurize, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ref", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling — pure JVM plumbing, no UDF: explode the frame
    index space from metadata and keep every n-th. The decode of sampled
    frames would chain a ``mapInPandas`` like :func:`resize_media`."""
    frames = df.filter(F.col("kind") == "video").select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1)).alias("frame_idx"),
    )
    return frames.filter(F.col("frame_idx") % every_n == 0).select(
        "asset_id",
        "frame_idx",
        F.concat_ws(":", F.col("asset_id"), F.col("frame_idx")).alias("frame_ref"),
    )
