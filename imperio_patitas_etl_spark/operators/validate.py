"""Declarative validate-filter-project operator (F1-F4, SURVEY.md §2.3).

The reference validates row-by-row in Python, dropping bad rows with a
logged reason (etl_service.py:20-201, catch-and-skip loops at :525-531,
:626-633, :677-701). Here the same semantics are a single declarative spec
compiled to ``filter(...).select(...)`` — Catalyst pushes the predicates
into the scan and prunes unused columns, and the whole thing stays inside
whole-stage codegen. The "logged reason" becomes a column: every input row
is tagged with the name of its first failing rule (NULL when it passes), so
the rejects and the valid/invalid counts are queries over one frame rather
than log lines.
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

    def accept(self, df: DataFrame) -> DataFrame:
        """The rows of ``df`` passing every rule, projected with their
        ``warn_*`` flags. The filter runs before the projection, so a cast
        in the projection only ever sees accepted rows (Spark's ANSI casts
        raise on the values some rules reject)."""
        return df.filter(self.accept_predicate()).select(
            *[expr.alias(name) for name, expr in self.projection.items()],
            *[
                F.coalesce(expr, F.lit(False)).alias(f"warn_{wname}")
                for wname, expr in self.warnings.items()
            ],
        )

    def apply(self, df: DataFrame) -> "ValidationResult":
        """Accepted rows (``accept``) plus every input row tagged with its
        ``reject_reason``."""
        # first failing rule wins as the reason (reference logs the first
        # DataValidationError raised, etl_service.py:525-531)
        reason = F.lit(None).cast("string")
        for r in reversed(self.rules):
            reason = F.when(~F.coalesce(r.predicate, F.lit(False)), F.lit(r.name)).otherwise(
                reason
            )
        return ValidationResult(
            spec=self, accepted=self.accept(df), tagged=df.withColumn("reject_reason", reason)
        )


@dataclass
class ValidationResult:
    """``accepted``: the rows passing every rule of ``spec``, projected.
    ``tagged``: every input row plus ``reject_reason``, the name of its
    first failing rule or NULL when all hold. ``spec.accept`` over
    ``tagged`` without ``reject_reason`` gives ``accepted`` again, so a
    caller that materializes ``tagged`` once can derive the accepted rows
    and both counters from that one copy."""

    spec: EntitySpec
    accepted: DataFrame
    tagged: DataFrame

    @property
    def rejected(self) -> DataFrame:
        return self.tagged.filter(F.col("reject_reason").isNotNull())
