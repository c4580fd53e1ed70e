"""Declarative validate-filter-project operator (F1-F4, SURVEY.md §2.3).

The reference validates row-by-row in Python, dropping bad rows with a
logged reason (etl_service.py:20-201, catch-and-skip loops at :525-531,
:626-633, :677-701). Here the same semantics are a single declarative spec
compiled to ``filter(...).select(...)`` — Catalyst pushes the predicates
into the scan and prunes unused columns, and the whole thing stays inside
whole-stage codegen. The "logged reason" becomes a first-class rejects
DataFrame (reason column included), replacing log-grepping with a queryable
data-quality output.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One drop-predicate with its reason tag.

    ``predicate`` is the ACCEPT condition; a row failing it is rejected with
    ``reason``. NULL predicate results count as reject (reference drops on
    missing fields, e.g. etl_service.py:23-26).
    """

    name: str
    predicate: Column


@dataclass
class EntitySpec:
    """predicates (drop rules) + warnings (flag-only) + projection.

    Mirrors one ``validate_*`` function of the reference:
      - rules      → hard drops (DataValidationError, etl_service.py:11-13)
      - warnings   → tolerance checks that flag but keep (etl_service.py:138-141)
      - projection → rename/cast/derive map (English source → warehouse cols)
    """

    name: str
    rules: list[Rule] = field(default_factory=list)
    warnings: dict[str, Column] = field(default_factory=dict)
    projection: dict[str, Column] = field(default_factory=dict)

    def accept_predicate(self) -> Column:
        """AND of all rules, NULL-safe: NULL → reject."""
        pred = F.lit(True)
        for r in self.rules:
            pred = pred & F.coalesce(r.predicate, F.lit(False))
        return pred

    def apply(self, df: DataFrame) -> "ValidationResult":
        """Split into (accepted-and-projected, rejects-with-reason)."""
        accepted = df.filter(self.accept_predicate())
        projected = accepted.select(
            *[expr.alias(name) for name, expr in self.projection.items()]
        )
        if self.warnings:
            projected = accepted.select(
                *[expr.alias(name) for name, expr in self.projection.items()],
                *[
                    F.coalesce(expr, F.lit(False)).alias(f"warn_{wname}")
                    for wname, expr in self.warnings.items()
                ],
            )
        # Rejects: first failing rule wins as the reason (reference logs the
        # first DataValidationError raised, etl_service.py:525-531).
        reason = F.lit(None).cast("string")
        for r in reversed(self.rules):
            reason = F.when(~F.coalesce(r.predicate, F.lit(False)), F.lit(r.name)).otherwise(
                reason
            )
        rejected = df.filter(~self.accept_predicate()).withColumn("reject_reason", reason)
        return ValidationResult(accepted=projected, rejected=rejected)


@dataclass
class ValidationResult:
    accepted: DataFrame
    rejected: DataFrame

    def counts(self) -> DataFrame:
        """A3: valid/invalid counters as a DataFrame (etl_service.py:522-533)."""
        a = self.accepted.select(F.lit("valid").alias("status")).groupBy("status").count()
        r = self.rejected.select(F.lit("invalid").alias("status")).groupBy("status").count()
        return a.unionByName(r)
