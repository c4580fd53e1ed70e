"""Pipeline runner: the reference's API surface as library calls.

Replaces the FastAPI dispatch layer (app/api/endpoints.py:50-106,
scheduler_endpoints.py:19-206) with a runner over DataFrame sources:

- ``sync('clients'|'products'|'documents'|'all')``  ↔ POST /etl/sync/{entity}
- ``clean_and_reload()``                            ↔ POST /etl/clean-and-reload
- ``daily(as_of)``                                  ↔ POST /scheduler/etl/daily (7-day window)
- ``incremental(days, as_of)``                      ↔ POST /scheduler/etl/incremental
- ``test_sample(n)``                                ↔ POST /scheduler/etl/test

Each validated batch is materialized once: one ``localCheckpoint`` job
writes every input row with its ``reject_reason`` and, through an
``Observation`` on that same job, counts the valid and invalid rows and the
rejects per rule. The upsert then reads the checkpoint, so the entity
transform (explode, broadcast joins, windows) runs once per sync, and the
checkpoint is freed when the sync's upserts have run, raised or not.

Run reports (valid/invalid counts per entity, A3) come back as a DataFrame
instead of log lines, and the latest run's reject histogram per table as a
dict (``rejects()``). Sources are pluggable callables returning DataFrames
— parquet fixtures in tests, a rate-limited REST reader in production (the
extract boundary stays driver-side exactly like the reference's
BsaleClient; everything after it is distributed).

The incremental path implements the date predicate for real —
``emissionDate >= cutoff`` — fixing the reference's unimplemented
``start_date`` filter (bsale_client.py:69-71, SURVEY.md §3.3) while keeping
its idempotent-upsert property: re-running any window yields the same
warehouse state. At scale the warehouse fact tables would be partitioned by
emission date, so this predicate prunes whole partitions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.checkpoint import release
from imperio_patitas_etl_spark.operators.validate import ValidationResult
from imperio_patitas_etl_spark.plans.entities import (
    document_lines,
    document_spec,
    transform_clients,
    transform_products,
)
from imperio_patitas_etl_spark.sinks.warehouse import WAREHOUSE_SCHEMAS, ParquetWarehouse

SourceFn = Callable[[], DataFrame]


@dataclass
class EtlPipeline:
    """Extract → transform → load for the 4 warehouse tables."""

    spark: SparkSession
    warehouse: ParquetWarehouse
    sources: dict[str, SourceFn] = field(default_factory=dict)
    #: K5 mirror target: ``(table_name, [[header], [row], ...]) -> None``;
    #: None disables the mirror (tests inject a collector; production
    #: plugs the Sheets client). Mirror errors are NON-FATAL by contract
    #: (etl_service.py:737-741).
    exporter: Callable[[str, list[list[str]]], None] | None = None
    #: collected per-run (entity, valid, invalid) tuples
    _report_rows: list[tuple[str, int, int]] = field(default_factory=list)
    #: latest run's rejects per rule, per table
    _rejects: dict[str, dict[str, int]] = field(default_factory=dict)

    # -- entity syncs -----------------------------------------------------

    def sync_clients(self) -> int:
        """sync_clients (etl_service.py:508-547): validate → upsert cliente."""
        self.warehouse.ensure_all()
        res = transform_clients(self.sources["clients"]())
        with self._counted("cliente", res) as (res, n_valid, _):
            if n_valid:  # F6: skip load when 0 valid rows (etl_service.py:535-537)
                self.warehouse.upsert("cliente", res.accepted)
        return n_valid

    def sync_products(self) -> int:
        """sync_products (etl_service.py:550-649). Raises when every row is
        invalid (the reference treats an all-invalid product sync as fatal,
        :637-639)."""
        self.warehouse.ensure_all()
        res = transform_products(
            self.sources["products"](),
            self.sources["price_list"](),
            self.sources["costs"](),
        )
        with self._counted("producto", res) as (res, n_valid, n_invalid):
            if n_valid == 0 and n_invalid > 0:
                raise ValueError("product sync: all rows invalid")
            if n_valid:
                self.warehouse.upsert("producto", res.accepted)
        return n_valid

    def sync_documents(self, start_date: str | None = None) -> int:
        """sync_documents (etl_service.py:652-722): one input, two tables.

        ``start_date`` (YYYY-MM-DD) filters on emission date — the predicate
        the reference plumbed through but never implemented
        (bsale_client.py:69-71).
        """
        self.warehouse.ensure_all()
        raw = self.sources["documents"]()
        if start_date is not None:
            raw = raw.filter(
                F.timestamp_seconds(F.col("emissionDate"))
                >= F.to_timestamp(F.lit(start_date))
            )
        # transform_documents, with the lines built from the header
        # checkpoint instead of a second read and validation of ``raw``
        headers = document_spec().apply(raw)
        with self._counted("documento_venta", headers) as (headers, n_h, _):
            lines = document_lines(headers.tagged.drop("reject_reason"), headers.accepted)
            with self._counted("detalle_documento", lines) as (lines, n_l, _):
                if n_h:
                    self.warehouse.upsert("documento_venta", headers.accepted)
                if n_l:
                    self.warehouse.upsert("detalle_documento", lines.accepted)
        return n_h

    # -- orchestration (endpoints.py:50-106, scheduler_endpoints.py) ------

    #: tables each entity sync materializes — the reference mirrors
    #: exactly this subset to Sheets after EVERY sync, not just 'all'
    #: (endpoints.py:84-100: sync_all_to_sheets({'cliente': ...}) after
    #: the clients branch, etc.)
    _ENTITY_TABLES = {
        "clients": ("cliente",),
        "products": ("producto",),
        "documents": ("documento_venta", "detalle_documento"),
    }

    def sync(self, entity: str, start_date: str | None = None) -> None:
        if entity == "clients":
            self.sync_clients()
        elif entity == "products":
            self.sync_products()
        elif entity == "documents":
            self.sync_documents(start_date)
        elif entity == "all":
            # clients → products → documents, the reference's order
            # (endpoints.py:63-80), then the full-refresh mirror
            self.sync_clients()
            self.sync_products()
            self.sync_documents(start_date)
            self.mirror_all()
            return
        else:
            raise ValueError(f"unknown entity {entity!r}")
        # per-entity mirror of just the synced tables: a deployment driving
        # per-entity syncs must not leave the Sheets mirror silently stale
        self.mirror(self._ENTITY_TABLES[entity])

    def mirror(self, tables) -> bool:
        """K5 mirror of the named warehouse tables (sheets_sync.py:49-59).
        Returns False (and keeps going) on any export error — the mirror
        must never fail the sync (etl_service.py:737-741)."""
        if self.exporter is None:
            return True
        ok = True
        for table in tables:
            try:
                self.exporter(table, self.warehouse.export_stringified(table))
            except Exception:
                ok = False
        return ok

    def mirror_all(self) -> bool:
        """K5: full-refresh mirror of all 4 tables."""
        return self.mirror(tuple(WAREHOUSE_SCHEMAS))

    def clean_and_reload(self) -> None:
        """Truncate all 4 tables then full resync (endpoints.py:18-48)."""
        self.warehouse.truncate_all()
        self.sync("all")

    def daily(self, as_of: str | None = None) -> None:
        """Daily full run with a trailing 7-day document window
        (scheduler_endpoints.py:184-206), counted back from ``as_of``
        (YYYY-MM-DD)."""
        self.sync("all", start_date=self._cutoff(7, as_of))

    def incremental(self, days: int = 1, as_of: str | None = None) -> None:
        """4-hourly incremental: documents-only trailing window of ``days``
        before ``as_of`` (YYYY-MM-DD), idempotent by upsert
        (scheduler_endpoints.py:71-125)."""
        self.sync_documents(start_date=self._cutoff(days, as_of))

    def _cutoff(self, days: int, as_of: str | None) -> str:
        """``as_of`` (default: the session's ``current_date()``) minus
        ``days`` days, as YYYY-MM-DD."""
        if as_of is None:
            as_of = self.spark.sql("SELECT date_format(current_date(), 'yyyy-MM-dd')").first()[0]
        return (date.fromisoformat(as_of) - timedelta(days=int(days))).isoformat()

    def test_sample(self, n: int = 5) -> dict[str, list]:
        """Smoke endpoint: first n raw records per entity, no load
        (scheduler_endpoints.py:140-182)."""
        return {
            name: fn().limit(n).collect()
            for name, fn in self.sources.items()
        }

    # -- run report (A3) --------------------------------------------------

    def report(self) -> DataFrame:
        """Valid/invalid counters as a queryable DataFrame, replacing the
        reference's log lines (etl_service.py:533,635,703)."""
        return self.spark.createDataFrame(
            self._report_rows, "entity string, valid long, invalid long"
        )

    def rejects(self) -> dict[str, dict[str, int]]:
        """The latest run's reject histogram per table: for each rule of the
        table's spec, how many rows it rejected as their first failing
        rule (zeros included). The counts add up to the table's latest
        ``invalid``."""
        return {table: dict(hist) for table, hist in self._rejects.items()}

    @contextmanager
    def _counted(
        self, table: str, res: ValidationResult
    ) -> Iterator[tuple[ValidationResult, int, int]]:
        """Materialize ``res.tagged`` in one eager ``localCheckpoint`` and
        yield ``res`` rebuilt over that checkpoint, with its valid and
        invalid counts. The checkpoint is freed when the block exits,
        raised or not, so the caller's upserts run inside it.

        An ``Observation`` on the checkpointed frame takes both counters
        and the per-rule histogram in the checkpoint's own job; the counts
        become a report row and the histogram ``rejects()[table]``. The
        yielded ``accepted`` is ``spec.accept`` over the checkpoint, so an
        upsert reads the materialized rows instead of re-running the
        transform."""
        obs = Observation()
        reason = F.col("reject_reason")
        rules = [r.name for r in res.spec.rules]
        ck = res.tagged.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count(reason).alias("invalid"),
            *[F.count_if(reason == name).alias(f"rule.{name}") for name in rules],
        ).localCheckpoint()
        try:
            metrics = obs.get
            n_invalid = metrics["invalid"]
            n_valid = metrics["rows"] - n_invalid
            self._report_rows.append((table, n_valid, n_invalid))
            self._rejects[table] = {name: metrics[f"rule.{name}"] for name in rules}
            accepted = res.spec.accept(ck.drop("reject_reason"))
            yield ValidationResult(spec=res.spec, accepted=accepted, tagged=ck), n_valid, n_invalid
        finally:
            release(ck)
