"""String-cleaning / casting / validation column expressions.

Re-expresses the reference's per-row scalar logic (SURVEY.md §2.6) as native
Catalyst Column expressions — JVM-side, whole-stage-codegen friendly, no
Python UDFs. Reference semantics cited per function
(``app/services/etl_service.py`` in Eme087/imperio-patitas-etl).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Sentinel strings the reference treats as missing (etl_service.py:30,35,40,70,75),
#: compared case-insensitively after trim.
SENTINELS = ("", "null", "none", "sin nombre")

#: RUT shape after stripping dots/spaces (etl_service.py:203-215).
RUT_RE = r"^[0-9]{7,8}-?[0-9kK]?$"

#: Permissive email shape (etl_service.py:217-222).
EMAIL_RE = r"^[^@]+@[^@]+\.[^@]+$"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_us(c: Column | str) -> Column:
    """Exact microseconds since 1970-01-01 00:00:00 for BOTH timestamp
    flavors.

    Parquet ``timestamp[us]`` columns with no timezone read as
    ``TIMESTAMP_NTZ`` under Spark 4.1's NTZ inference, and
    ``F.unix_micros`` rejects NTZ input outright. Casting through
    ``timestamp_ntz`` first is a no-op passthrough for NTZ sources — the
    only type the engine's own sources produce (``load_table`` converts
    the legacy NANOS vintage to NTZ timezone-independently), matching
    what DuckDB sees — so the diff against a literal naive epoch origin
    is integer-exact and timezone-independent end to end. An LTZ column
    from an EXTERNAL source would pass through a session-timezone
    wall-clock cast here; that fallback is exact only under a UTC
    session, which is why feeding LTZ event time into this engine is
    not supported outside UTC.
    """
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        _col(c).cast("timestamp_ntz"),
    )


def clean_string(c: Column | str) -> Column:
    """C1: trim whitespace (etl_service.py:29,34,39,...)."""
    return F.trim(_col(c))


def normalize_sentinels(c: Column | str) -> Column:
    """C2/C12: trim, then map blank/sentinel values to NULL.

    Mirrors ``(x or '').strip().lower() in ('', 'null', 'none', 'sin nombre')``
    (etl_service.py:30,35,40,70,75) — the value kept is the *trimmed original*,
    not the lowercased form.
    """
    trimmed = F.trim(_col(c))
    return F.when(F.lower(trimmed).isin(*SENTINELS), F.lit(None)).otherwise(trimmed)


def blank_to_null(c: Column | str) -> Column:
    """C12: empty-after-trim → NULL (``(x or '').strip() or None``)."""
    return F.nullif(F.trim(_col(c)), F.lit(""))


def is_valid_rut(c: Column | str) -> Column:
    """C3: boolean — RUT matches after removing dots and spaces
    (etl_service.py:203-215)."""
    stripped = F.regexp_replace(_col(c), r"[.\s]", "")
    return stripped.rlike(RUT_RE)


def is_valid_email(c: Column | str) -> Column:
    """C4: boolean — permissive email check (etl_service.py:217-222)."""
    return _col(c).rlike(EMAIL_RE)


def bool_to_int(c: Column | str) -> Column:
    """C6: truthy → 1 else 0 (``1 if track else 0``, etl_service.py:103)."""
    col = _col(c)
    return F.when(col.cast("boolean") & col.isNotNull(), F.lit(1)).otherwise(F.lit(0))


def money(c: Column | str) -> Column:
    """C7: money/qty as double — the reference uses FLOAT throughout
    (bigquery_client.py:99-100,112-114); we keep double for fidelity and
    round only at comparison boundaries (SURVEY.md §7 hard-part 2)."""
    return _col(c).cast("double")


def ts_from_unix(c: Column | str) -> Column:
    """C8: Unix seconds → TIMESTAMP, NULL passthrough
    (``TIMESTAMP_SECONDS(int(ts))``, etl_service.py:336-338)."""
    return F.timestamp_seconds(_col(c).cast("long"))


def round2_exact(c: Column, true_decimals: int = 4) -> Column:
    """Round a value with ≤ ``true_decimals`` exact decimal digits to 2
    decimals, deterministically across engines.

    Binary-double rounding of money products is engine-dependent exactly at
    half-cent boundaries — and those are COMMON here because 2-decimal
    prices × 2-decimal rates land on exact 4-decimal values. Scaling to an
    exact integer first and doing integer half-up division gives the same
    answer in Spark and any SQL oracle (SURVEY.md §7 hard-part 2).
    """
    scale = 10**true_decimals
    div = 10 ** (true_decimals - 2)
    half = div // 2
    units = F.round(_col(c) * scale).cast("long")
    return ((units + half) - ((units + half) % div)).cast("long") / div / F.lit(100.0)


def sql_round2_exact(expr: str, true_decimals: int = 4) -> str:
    """DuckDB-side twin of :func:`round2_exact` (same integer arithmetic)."""
    scale = 10**true_decimals
    div = 10 ** (true_decimals - 2)
    half = div // 2
    return (
        f"(((CAST(ROUND(({expr}) * {scale}) AS BIGINT) + {half}) // {div}) / 100.0)"
    )


def md5int(x: str) -> str:
    """Spark SQL for a cross-engine deterministic 60-bit hash of string
    expression ``x``: the first 15 hex chars of its md5 as a BIGINT
    (fits signed 64). Identical in both engines to :func:`sql_md5int`."""
    return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def sql_md5int(x: str) -> str:
    """DuckDB-side twin of :func:`md5int`."""
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def avg2_exact(sum_col: Column, count_col: Column) -> Column:
    """Exact 2-decimal average of 2-decimal values: integer-cents division
    with half-up rounding — immune to double division ties.

    floor((2·sum_cents + n) / (2n)) computed as (x − x mod d)/d, which is
    exact in 64-bit integers and exact again as a double because the
    numerator is a multiple of the denominator.
    """
    sum_cents = F.round(sum_col * 100).cast("long")
    num = sum_cents * 2 + count_col.cast("long")
    den = count_col.cast("long") * 2
    return ((num - num % den) / den).cast("long") / F.lit(100.0)


def sum2_exact(term: Column, true_decimals: int = 4) -> Column:
    """Exact 2-decimal SUM of terms with ≤ ``true_decimals`` exact decimal
    digits: convert each term to integer units BEFORE summing (a double sum
    of 4-decimal products accumulates order-dependent noise larger than a
    half-unit at 10⁷ rows — per-row integerization keeps the aggregate exact
    and partial-agg/AQE order-independent, which matters at 100 TB)."""
    scale = 10**true_decimals
    div = 10 ** (true_decimals - 2)
    half = div // 2
    s = F.sum(F.round(term * scale).cast("long")) + half
    return ((s - s % div) / div).cast("long") / F.lit(100.0)


def sql_sum2_exact(term_expr: str, true_decimals: int = 4) -> str:
    """DuckDB-side twin of :func:`sum2_exact`."""
    scale = 10**true_decimals
    div = 10 ** (true_decimals - 2)
    half = div // 2
    return (
        f"(((SUM(CAST(ROUND(({term_expr}) * {scale}) AS BIGINT)) + {half}) "
        f"// {div}) / 100.0)"
    )


def sql_avg2_exact(sum_expr: str, count_expr: str) -> str:
    """DuckDB-side twin of :func:`avg2_exact`."""
    return (
        f"(((CAST(ROUND(({sum_expr}) * 100) AS BIGINT) * 2 + ({count_expr})) "
        f"// (({count_expr}) * 2)) / 100.0)"
    )


def consistency_flag(observed: Column, expected: Column) -> Column:
    """F5: data-quality flag — |observed − expected| > 0.01 flags but
    never drops (etl_service.py:138-141,182-188)."""
    return F.abs(observed - expected) > F.lit(0.01)
