"""K5 mirror-export tests: stringified full refresh of all tables after a
full sync; export errors must never fail the sync; the pyarrow export gives
the same strings as ``str`` of each Spark ``Row`` value."""

from __future__ import annotations

import datetime as dt
import os
import time
from collections import Counter

import pytest

from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
from imperio_patitas_etl_spark.sinks.warehouse import WAREHOUSE_SCHEMAS, ParquetWarehouse


def _mini_pipeline(spark, tmp_path, exporter):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    sources = {
        "clients": lambda: spark.createDataFrame(
            [(1, "Ana", None, None, None, None, None, 1700000000)],
            "id long, firstName string, lastName string, code string, email string, "
            "phone string, address string, creationDate long",
        ),
        "products": lambda: spark.createDataFrame(
            [],
            "product_order long, id long, name string, description string, "
            "creationDate long, variants struct<items: array<struct<id:long, "
            "code:string, barCode:string, state:int, track:boolean>>>",
        ),
        "price_list": lambda: spark.createDataFrame([], "variantid long, variantValue double"),
        "costs": lambda: spark.createDataFrame(
            [], "variant_id long, averageCost double, history array<struct<cost:double>>"
        ),
        "documents": lambda: spark.createDataFrame(
            [],
            "id long, emissionDate long, number long, client struct<id:long>, "
            "documentType struct<id:long>, netAmount double, taxAmount double, "
            "totalAmount double, details struct<items: array<struct<id:long, "
            "variant:struct<id:long>, quantity:double, netUnitValue:double, "
            "discount:double, netTotal:double>>>",
        ),
    }
    return EtlPipeline(spark=spark, warehouse=wh, sources=sources, exporter=exporter)


def test_mirror_exports_all_tables_stringified(spark, tmp_path):
    got: dict[str, list] = {}
    p = _mini_pipeline(spark, tmp_path, lambda name, rows: got.__setitem__(name, rows))
    p.sync("all")
    assert set(got) == {"cliente", "producto", "documento_venta", "detalle_documento"}
    header, *body = got["cliente"]
    assert header[0] == "id_cliente"
    assert body[0][0] == "1"
    assert all(isinstance(c, str) for row in body for c in row)  # stringify-all
    # NULL → '' (sheets_sync.py:45)
    assert "" in body[0]


def test_per_entity_sync_mirrors_synced_tables(spark, tmp_path):
    """The reference mirrors after EVERY entity sync, not only 'all'
    (endpoints.py:84-100) — a per-entity deployment must not leave the
    Sheets mirror stale (ADVICE r8)."""
    got: dict[str, list] = {}
    p = _mini_pipeline(spark, tmp_path, lambda name, rows: got.__setitem__(name, rows))
    p.warehouse.ensure_all()
    p.sync("clients")
    assert set(got) == {"cliente"}
    got.clear()
    p.sync("documents")
    assert set(got) == {"documento_venta", "detalle_documento"}


def test_mirror_error_is_non_fatal(spark, tmp_path):
    def boom(name, rows):
        raise RuntimeError("sheets quota")

    p = _mini_pipeline(spark, tmp_path, boom)
    p.sync("all")  # must not raise
    assert p.mirror_all() is False
    assert p.warehouse.read("cliente").count() == 1


def _micros(*args) -> int:
    t = dt.datetime(*args, tzinfo=dt.timezone.utc)
    return (t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)


@pytest.fixture()
def santiago_tz():
    """Run under a non-UTC local zone: a ``Row`` timestamp is a local-zone
    naive ``datetime``, so the strings depend on TZ."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/Santiago"
    time.tzset()
    yield
    if prev is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = prev
    time.tzset()


def _row_strings(wh, table) -> list[list[str]]:
    """The mirror as ``str`` of each Spark ``Row`` value, '' for NULL."""
    df = wh.read(table)
    return [list(df.columns)] + [
        ["" if v is None else str(v) for v in row] for row in df.collect()
    ]


def _as_multiset(rows):
    return rows[0], Counter(map(tuple, rows[1:]))


def test_export_matches_row_stringification(spark, tmp_path, santiago_tz):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), partitioned=True)
    wh.ensure_all()
    stamps = [
        _micros(2024, 4, 7, 2, 30, 0, 123456),   # Santiago DST change day
        _micros(1969, 12, 31, 23, 59, 59, 999999),
        _micros(1955, 3, 1, 8, 0, 0, 1),
        _micros(1890, 6, 15, 12, 0, 0, 500000),  # local mean time offset
        _micros(1899, 12, 31, 23, 59, 59),
    ]
    doubles = [0.1 + 0.2, float("nan"), -0.0, 1e20, 12.5]
    docs = [
        (i + 1, 10 + i, 5, 100 + i, ts, d, -d, 1.0 / 3, ts + 7)
        for i, (ts, d) in enumerate(zip(stamps, doubles))
    ]
    # NULL in every nullable column, so also in the NULL partition
    docs.append((99, None, None, None, None, None, None, None, None))
    src = spark.createDataFrame(
        docs,
        "id_documento long, id_cliente long, id_tipo_documento long, folio long, "
        "e long, monto_neto double, monto_iva double, monto_total double, c long",
    ).selectExpr(
        "*", "timestamp_micros(e) AS fecha_emision", "timestamp_micros(c) AS fecha_creacion"
    )
    wh.upsert("documento_venta", src)
    assert os.path.isdir(os.path.join(wh.path("documento_venta"),
                                      "fecha_dia=__HIVE_DEFAULT_PARTITION__"))
    prods = spark.createDataFrame(
        [(1, "Pelota", None, "SKU1", "", 1, 0.1 + 0.2, None, 0, stamps[0]),
         (2, None, "ñandú \"x\"", None, None, None, float("nan"), -0.0, None, None)],
        "id_producto long, nombre string, descripcion string, codigo_sku string, "
        "codigo_barras string, controla_stock int, precio_neto double, "
        "costo_neto double, estado int, c long",
    ).selectExpr("*", "timestamp_micros(c) AS fecha_creacion")
    wh.upsert("producto", prods)
    for table in ("documento_venta", "producto"):
        got = wh.export_stringified(table)
        assert got[0] == [f.name for f in WAREHOUSE_SCHEMAS[table].fields]
        assert _as_multiset(got) == _as_multiset(_row_strings(wh, table))
    assert len(wh.export_stringified("documento_venta")) == len(docs) + 1


def test_export_of_ensured_empty_tables_is_header_only(spark, tmp_path):
    """An ensured, empty partitioned table holds only ``_SUCCESS``."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), partitioned=True)
    wh.ensure_all()
    files = [f for _, _, fs in os.walk(wh.path("detalle_documento")) for f in fs]
    assert "_SUCCESS" in files and not any(f.endswith(".parquet") for f in files)
    for table, schema in WAREHOUSE_SCHEMAS.items():
        assert wh.export_stringified(table) == [[f.name for f in schema.fields]]
