"""End-to-end entity-pipeline tests (SURVEY.md §5.3): Bsale-shaped nested
JSON fixtures → full pipeline → warehouse parquet tables, re-run to prove
upsert idempotence. Fixture cases follow FIXTURES.md §1."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.checkpoint import persistent_rdd_ids
from imperio_patitas_etl_spark.plans.entities import (
    transform_clients,
    transform_documents,
    transform_products,
)
from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
from imperio_patitas_etl_spark.sinks.warehouse import WAREHOUSE_SCHEMAS, ParquetWarehouse

CLIENT_SCHEMA = (
    "id long, firstName string, lastName string, code string, email string, "
    "phone string, address string, creationDate long"
)

RAW_CLIENTS = [
    (1, "Ana", "Soto", "12345678-9", "ana@x.cl", "+56 9", "Calle 1", 1700000000),
    (2, "  ", None, None, None, None, None, 1700000000),          # sentinel name → reject
    (3, "Bob", "Rey", "ABC", None, None, None, 1700000000),       # bad RUT → reject
    (4, "Cara", "Paz", None, "not-an-email", None, None, None),   # bad email → warn only
    (None, "Dani", None, None, None, None, None, 1700000000),     # no id → reject
]

PRODUCT_SCHEMA = (
    "product_order long, id long, name string, description string, creationDate long, "
    "variants struct<items: array<struct<id:long, code:string, barCode:string, "
    "state:int, track:boolean>>>"
)

RAW_PRODUCTS = [
    # p1: first variant valid → kept, second never reached
    (0, 1, "Collar", "d1", 1700000000,
     ([(101, "SKU101", "B101", 0, True), (102, "SKU102", None, 0, False)],)),
    # p2: zero variants → dropped by inner explode
    (1, 2, "Vacio", None, 1700000000, ([],)),
    # p3: first variant inactive, second valid → second kept
    (2, 3, "Correa", None, 1700000000,
     ([(301, "SKU301", None, 1, True), (302, "SKU302", None, 0, True)],)),
    # p4: duplicate variant id 101 (already processed) then a valid one
    (3, 4, "Dup", None, 1700000000,
     ([(101, "SKU101", None, 0, True), (401, "SKU401", None, 0, True)],)),
    # p5: variant with no price row → product aborted at that variant
    (4, 5, "SinPrecio", None, 1700000000,
     ([(501, "SKU501", None, 0, True), (502, "SKU502", None, 0, True)],)),
    # p6: missing SKU → invalid, no fallback variant
    (5, 6, "SinSku", None, 1700000000, ([(601, None, None, 0, True)],)),
    # p7: FIRST active variant invalid (no SKU), second valid — the
    # reference breaks on the validation failure (etl_service.py:626-633),
    # so the whole product drops and 702 is never considered
    (6, 7, "PrimeraInvalida", None, 1700000000,
     ([(701, None, None, 0, True), (702, "SKU702", None, 0, True)],)),
]

PRICE_SCHEMA = "variantid long, variantValue double"
RAW_PRICES = [
    (101, 9990.0), (102, 5990.0), (302, 7990.0), (401, 3990.0),
    (502, 1000.0), (601, 2000.0), (701, 1500.0), (702, 1600.0),
    # 501 missing on purpose (price-abort case)
]

COSTS_SCHEMA = (
    "variant_id long, averageCost double, history array<struct<cost:double>>"
)
RAW_COSTS = [
    (101, 4000.0, [(4000.0,)]),        # real history → averageCost
    (302, 3500.0, [(0.0,)]),           # all-zero history → price × 0.65
    (401, None, None),                 # no history → price × 0.65
    (601, 900.0, [(900.0,)]),
]

DOC_SCHEMA = (
    "id long, emissionDate long, number long, client struct<id:long>, "
    "documentType struct<id:long>, netAmount double, taxAmount double, "
    "totalAmount double, details struct<items: array<struct<id:long, "
    "variant:struct<id:long>, quantity:double, netUnitValue:double, "
    "discount:double, netTotal:double>>>"
)

RAW_DOCS = [
    # valid doc, 2 valid lines
    (10, 1700000000, 7, (1,), (5,), 1000.0, 190.0, 1190.0,
     ([(91, (101,), 2.0, 500.0, 0.0, 1000.0), (92, (302,), 1.0, 100.0, 0.0, 100.0)],)),
    # valid doc, zero lines (header survives)
    (11, 1700000500, 8, (None,), (5,), 500.0, 95.0, 595.0, ([],)),
    # negative net → reject header AND its lines never load
    (12, 1700001000, 9, (1,), (5,), -10.0, 0.0, 10.0,
     ([(93, (101,), 1.0, 10.0, 0.0, 10.0)],)),
    # missing emissionDate → reject
    (13, None, 10, (1,), (5,), 10.0, 1.9, 11.9, ([],)),
    # valid doc with one bad line (qty 0) and one good line
    (14, 1700002000, 11, (2,), (5,), 300.0, 57.0, 357.0,
     ([(94, (401,), 0.0, 10.0, 0.0, 0.0), (95, (401,), 3.0, 100.0, 0.0, 300.0)],)),
]


@pytest.fixture()
def pipeline(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    sources = {
        "clients": lambda: spark.createDataFrame(RAW_CLIENTS, CLIENT_SCHEMA),
        "products": lambda: spark.createDataFrame(RAW_PRODUCTS, PRODUCT_SCHEMA),
        "price_list": lambda: spark.createDataFrame(RAW_PRICES, PRICE_SCHEMA),
        "costs": lambda: spark.createDataFrame(RAW_COSTS, COSTS_SCHEMA),
        "documents": lambda: spark.createDataFrame(RAW_DOCS, DOC_SCHEMA),
    }
    return EtlPipeline(spark=spark, warehouse=wh, sources=sources)


def test_sync_clients(pipeline):
    assert pipeline.sync_clients() == 2
    rows = {r["id_cliente"]: r for r in pipeline.warehouse.read("cliente").collect()}
    assert set(rows) == {1, 4}
    assert rows[1]["rut"] == "12345678-9"
    assert rows[4]["email"] == "not-an-email"  # warned, not dropped
    assert rows[4]["fecha_creacion"] is None


def test_sync_products_branches(pipeline):
    pipeline.sync_products()
    rows = {r["id_producto"]: r for r in pipeline.warehouse.read("producto").collect()}
    # p1 → 101 (first active), p3 → 302 (first ACTIVE), p4 → 401
    # (101 deduped), p5 → nothing (price abort), p6 → nothing (no SKU),
    # p2 → nothing (no variants), p7 → nothing (first active variant
    # invalid drops the product; 702 never reached — reference break)
    assert set(rows) == {101, 302, 401}
    assert rows[101]["costo_neto"] == 4000.0          # real history → averageCost
    assert rows[302]["costo_neto"] == round(7990.0 * 0.65, 6)  # zero history
    assert rows[401]["costo_neto"] == round(3990.0 * 0.65, 6)  # no history row
    assert rows[101]["controla_stock"] == 1
    assert rows[101]["estado"] == 1


def test_sync_documents_headers_and_lines(pipeline):
    pipeline.sync_documents()
    docs = {r["id_documento"] for r in pipeline.warehouse.read("documento_venta").collect()}
    assert docs == {10, 11, 14}  # 12 negative net, 13 no emission date
    lines = {r["id_detalle"]: r for r in pipeline.warehouse.read("detalle_documento").collect()}
    assert set(lines) == {91, 92, 95}  # 93 under rejected doc, 94 qty≤0
    # dangling FK allowed: doc 11 has NULL id_cliente
    hdr = {r["id_documento"]: r for r in pipeline.warehouse.read("documento_venta").collect()}
    assert hdr[11]["id_cliente"] is None


def test_sync_all_idempotent(pipeline):
    pipeline.sync("all")
    snap1 = {
        t: sorted(map(tuple, pipeline.warehouse.read(t).collect()))
        for t in ("cliente", "producto", "documento_venta", "detalle_documento")
    }
    pipeline.sync("all")  # re-run: upsert must be a no-op
    snap2 = {
        t: sorted(map(tuple, pipeline.warehouse.read(t).collect()))
        for t in ("cliente", "producto", "documento_venta", "detalle_documento")
    }
    assert snap1 == snap2


def test_clean_and_reload(pipeline):
    pipeline.sync("all")
    pipeline.clean_and_reload()
    assert pipeline.warehouse.read("cliente").count() == 2


def test_incremental_date_filter(pipeline, spark):
    # cutoff after doc 10/11 but before 14 → only 14 re-synced
    pipeline.sync_documents(start_date="2023-11-14")
    docs = {r["id_documento"] for r in pipeline.warehouse.read("documento_venta").collect()}
    # 1700002000 = 2023-11-14T22:46:40Z ≥ 2023-11-14; 1700000000/1700000500
    # are also 2023-11-14 UTC — all pass
    assert docs == {10, 11, 14}
    pipeline.sync_documents(start_date="2023-11-15")
    docs2 = {r["id_documento"] for r in pipeline.warehouse.read("documento_venta").collect()}
    assert docs2 == {10, 11, 14}  # upsert: earlier rows persist


def test_report(pipeline):
    pipeline.sync("all")
    rep = {r["entity"]: (r["valid"], r["invalid"]) for r in pipeline.report().collect()}
    assert rep["cliente"] == (2, 3)
    assert rep["documento_venta"] == (3, 2)
    assert rep["detalle_documento"] == (3, 1)


def test_all_valid_sync_reports_zero_invalid(spark, tmp_path):
    """With no rejects the report still says 0 invalid."""
    valid = [RAW_CLIENTS[0], RAW_CLIENTS[3]]
    pipe = EtlPipeline(
        spark=spark,
        warehouse=ParquetWarehouse(spark, str(tmp_path / "wh")),
        sources={"clients": lambda: spark.createDataFrame(valid, CLIENT_SCHEMA)},
    )
    assert pipe.sync_clients() == 2
    assert [tuple(r) for r in pipe.report().collect()] == [("cliente", 2, 0)]


def test_column_subset_update_documento(pipeline, spark):
    """documento MERGE updates only id_cliente/monto_* on match
    (etl_service.py:452-457): folio changes in the source must NOT
    overwrite the stored folio."""
    pipeline.sync_documents()
    wh = pipeline.warehouse
    changed = wh.read("documento_venta").filter(F.col("id_documento") == 10).select(
        "id_documento",
        F.lit(999).cast("long").alias("id_cliente"),
        "id_tipo_documento",
        F.lit(12345).cast("long").alias("folio"),
        "fecha_emision",
        F.lit(2000.0).alias("monto_neto"),
        "monto_iva",
        "monto_total",
        "fecha_creacion",
    )
    wh.upsert("documento_venta", changed)
    row = wh.read("documento_venta").filter(F.col("id_documento") == 10).first()
    assert row["id_cliente"] == 999      # updated column
    assert row["monto_neto"] == 2000.0   # updated column
    assert row["folio"] == 7             # NOT in update set → target wins


@pytest.mark.parametrize("partitioned", [False, True])
def test_repeated_document_is_stored_once(spark, tmp_path, partitioned):
    """A documents batch that carries one document twice (with its detail
    lines) stores each header and line once, and a re-run leaves both
    tables unchanged."""
    docs = RAW_DOCS + [RAW_DOCS[0]]
    pipe = EtlPipeline(
        spark=spark,
        warehouse=ParquetWarehouse(spark, str(tmp_path / "wh"), partitioned=partitioned),
        sources={"documents": lambda: spark.createDataFrame(docs, DOC_SCHEMA)},
    )
    tables = ("documento_venta", "detalle_documento")

    def snapshot():
        return {t: sorted(map(tuple, pipe.warehouse.read(t).collect())) for t in tables}

    pipe.sync("documents")
    first = snapshot()
    ids = [r[0] for r in first["documento_venta"]]
    lines = [r[0] for r in first["detalle_documento"]]
    assert sorted(ids) == [10, 11, 14]
    assert sorted(lines) == [91, 92, 95]
    pipe.sync("documents")
    assert snapshot() == first


def _stored(wh, table):
    return sorted(map(tuple, wh.read(table).collect()))


def _as_stored(df, table):
    cols = [F.col(f.name).cast(f.dataType) for f in WAREHOUSE_SCHEMAS[table].fields]
    return sorted(map(tuple, df.select(*cols).collect()))


@pytest.mark.parametrize("partitioned", [False, True])
def test_repeated_document_with_one_valid_copy_loads_lines_of_both(
    spark, tmp_path, partitioned
):
    """A batch that carries document 10 twice, once valid and once with a
    negative net, stores the valid header once and the lines of BOTH
    copies: lines are kept by a semi-join on the accepted header ids, as
    ``transform_documents`` builds them."""
    invalid_copy = (10, 1700000000, 7, (1,), (5,), -1.0, 190.0, 1190.0,
                    ([(96, (101,), 1.0, 50.0, 0.0, 50.0)],))
    docs = RAW_DOCS + [invalid_copy]
    pipe = EtlPipeline(
        spark=spark,
        warehouse=ParquetWarehouse(spark, str(tmp_path / "wh"), partitioned=partitioned),
        sources={"documents": lambda: spark.createDataFrame(docs, DOC_SCHEMA)},
    )
    pipe.sync_documents()
    headers, lines = transform_documents(pipe.sources["documents"]())
    stored = _stored(pipe.warehouse, "detalle_documento")
    assert stored == _as_stored(lines.accepted, "detalle_documento")
    assert sorted(r[0] for r in stored) == [91, 92, 95, 96]
    assert _stored(pipe.warehouse, "documento_venta") == _as_stored(
        headers.accepted, "documento_venta"
    )
    assert [tuple(r) for r in pipe.report().collect()] == [
        ("documento_venta", 3, 3),
        ("detalle_documento", 4, 1),
    ]


def test_rejects_match_tagged_reasons(pipeline, spark):
    """``rejects()`` holds, per table, the count of each first failing rule
    that grouping the tagged rows by ``reject_reason`` gives, and a later
    sync replaces its table's histogram."""
    pipeline.sync("all")
    src = pipeline.sources
    headers, lines = transform_documents(src["documents"]())
    results = {
        "cliente": transform_clients(src["clients"]()),
        "producto": transform_products(src["products"](), src["price_list"](), src["costs"]()),
        "documento_venta": headers,
        "detalle_documento": lines,
    }
    rejects = pipeline.rejects()
    invalid = {r["entity"]: r["invalid"] for r in pipeline.report().collect()}
    assert set(rejects) == set(results)
    for table, res in results.items():
        want = {
            r["reject_reason"]: r["count"]
            for r in res.tagged.groupBy("reject_reason").count().collect()
            if r["reject_reason"] is not None
        }
        assert want, table  # every fixture table has rejects
        assert set(rejects[table]) == {rule.name for rule in res.spec.rules}
        assert {rule: n for rule, n in rejects[table].items() if n} == want
        assert sum(rejects[table].values()) == invalid[table]

    src["clients"] = lambda: spark.createDataFrame([RAW_CLIENTS[0]], CLIENT_SCHEMA)
    pipeline.sync_clients()
    assert set(pipeline.rejects()["cliente"].values()) == {0}
    assert tuple(pipeline.report().collect()[-1]) == ("cliente", 1, 0)


class _FailingWarehouse(ParquetWarehouse):
    """A warehouse whose every upsert raises."""

    def upsert(self, table, source):
        raise RuntimeError(f"upsert of {table} failed")


def _new_persisted(spark, fn):
    """RDD ids persisted after ``fn()`` that were not before. A difference,
    not an equality: the ContextCleaner may free an earlier test's blocks
    meanwhile, which says nothing about what ``fn`` left."""
    before = persistent_rdd_ids(spark)
    fn()
    return persistent_rdd_ids(spark) - before


def test_sync_all_leaves_no_checkpoint(pipeline, spark):
    assert _new_persisted(spark, lambda: pipeline.sync("all")) == set()


def test_all_invalid_product_sync_raises_and_leaves_no_checkpoint(pipeline, spark):
    invalid = [r for r in RAW_PRODUCTS if r[1] in (5, 6, 7)]  # no price / no SKU
    pipeline.sources["products"] = lambda: spark.createDataFrame(invalid, PRODUCT_SCHEMA)

    def sync():
        with pytest.raises(ValueError, match="all rows invalid"):
            pipeline.sync_products()

    assert _new_persisted(spark, sync) == set()
    assert tuple(pipeline.report().collect()[-1]) == ("producto", 0, 3)


@pytest.mark.parametrize("entity", ["clients", "products", "documents"])
def test_failed_upsert_leaves_no_checkpoint(pipeline, spark, tmp_path, entity):
    pipeline.warehouse = _FailingWarehouse(spark, str(tmp_path / "failing"))

    def sync():
        with pytest.raises(RuntimeError, match="upsert of"):
            pipeline.sync(entity)

    assert _new_persisted(spark, sync) == set()


def test_empty_sources_report_zero_and_skip_the_load(spark, tmp_path):
    """Empty sources count (0, 0) from the checkpoint's job and load
    nothing: the warehouse here raises on any upsert."""
    schemas = {
        "clients": CLIENT_SCHEMA,
        "products": PRODUCT_SCHEMA,
        "price_list": PRICE_SCHEMA,
        "costs": COSTS_SCHEMA,
        "documents": DOC_SCHEMA,
    }
    pipe = EtlPipeline(
        spark=spark,
        warehouse=_FailingWarehouse(spark, str(tmp_path / "wh")),
        sources={
            name: (lambda schema=schema: spark.createDataFrame([], schema))
            for name, schema in schemas.items()
        },
    )
    assert _new_persisted(spark, lambda: pipe.sync("all")) == set()
    assert [tuple(r) for r in pipe.report().collect()] == [
        (t, 0, 0) for t in ("cliente", "producto", "documento_venta", "detalle_documento")
    ]


def test_counted_runs_one_job(pipeline, spark):
    """Materializing a batch, its counts and its histogram is one Spark job
    (the client transform has no join, so no broadcast job either)."""
    sc = spark.sparkContext
    res = transform_clients(pipeline.sources["clients"]())
    group = "test_counted_runs_one_job"
    sc.setJobGroup(group, group)
    try:
        with pipeline._counted("cliente", res) as (_, n_valid, n_invalid):
            pass
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert (n_valid, n_invalid) == (2, 3)
