"""HTTP trigger surface (api/http.py) driven end-to-end with Flask's test
client over the same fixture pipeline as tests/test_pipeline_e2e.py — the
route surface the reference exposes via FastAPI
(endpoints.py:17-106, scheduler_endpoints.py:19-206)."""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.api import create_app
from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse

from tests.test_pipeline_e2e import (
    CLIENT_SCHEMA,
    COSTS_SCHEMA,
    DOC_SCHEMA,
    PRICE_SCHEMA,
    PRODUCT_SCHEMA,
    RAW_CLIENTS,
    RAW_COSTS,
    RAW_DOCS,
    RAW_PRICES,
    RAW_PRODUCTS,
)


@pytest.fixture()
def client(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    sources = {
        "clients": lambda: spark.createDataFrame(RAW_CLIENTS, CLIENT_SCHEMA),
        "products": lambda: spark.createDataFrame(RAW_PRODUCTS, PRODUCT_SCHEMA),
        "price_list": lambda: spark.createDataFrame(RAW_PRICES, PRICE_SCHEMA),
        "costs": lambda: spark.createDataFrame(RAW_COSTS, COSTS_SCHEMA),
        "documents": lambda: spark.createDataFrame(RAW_DOCS, DOC_SCHEMA),
    }
    pipeline = EtlPipeline(spark=spark, warehouse=wh, sources=sources)
    app = create_app(pipeline)
    app.config["TESTING"] = True
    return app.test_client(), pipeline


def test_health(client):
    c, _ = client
    r = c.get("/scheduler/health")
    assert r.status_code == 200
    assert r.get_json()["status"] == "healthy"


def test_sync_entity_loads_warehouse(client):
    c, pipeline = client
    r = c.post("/etl/sync/clients")
    assert r.status_code == 200
    assert r.get_json() == {"status": "sincronización completada", "entity": "clients"}
    assert pipeline.warehouse.read("cliente").count() == 2


def test_sync_unknown_entity_404(client):
    c, _ = client
    r = c.post("/etl/sync/nope")
    assert r.status_code == 404
    assert "no encontrada" in r.get_json()["detail"]


def test_sync_all_and_clean_reload(client):
    c, pipeline = client
    assert c.post("/etl/sync/all").status_code == 200
    first = {
        t: pipeline.warehouse.read(t).count()
        for t in ("cliente", "producto", "documento_venta", "detalle_documento")
    }
    assert all(n > 0 for n in first.values())
    # clean-and-reload converges to the same state (truncate + resync)
    assert c.post("/etl/clean-and-reload").status_code == 200
    after = {t: pipeline.warehouse.read(t).count() for t in first}
    assert after == first


def test_sync_documents_start_date_filter(client):
    c, pipeline = client
    # a malformed date is refused before any entity is synced
    for bad in ("garbage", "2024-6-1", "2024-02-30", "20240601"):
        r = c.post(f"/etl/sync/all?start_date={bad}")
        assert r.status_code == 400, bad
        assert "start_date" in r.get_json()["detail"]
    assert pipeline.warehouse.read("cliente").count() == 0
    assert pipeline.report().count() == 0
    # all fixture docs are at epoch ~1700000000 (2023-11); a 2024 cutoff
    # must load zero documents but still 200 (F6 empty-guard, not error)
    r = c.post("/etl/sync/documents?start_date=2024-06-01")
    assert r.status_code == 200
    assert pipeline.warehouse.read("documento_venta").count() == 0


def test_incremental_days_validation(client):
    c, pipeline = client
    assert c.post("/scheduler/etl/incremental?days=oops").status_code == 400
    # a negative window would put the cutoff in the future
    r = c.post("/scheduler/etl/incremental?days=-3")
    assert r.status_code == 400
    assert r.get_json()["detail"] == "days must be >= 0"
    # a window past 0001-01-01 (date overflow, then timedelta overflow)
    for days in (800000, 10**10):
        r = c.post(f"/scheduler/etl/incremental?days={days}")
        assert r.status_code == 400, days
        assert r.get_json()["detail"] == "days reaches before year 1"
    assert pipeline.report().count() == 0
    assert pipeline.warehouse.read("documento_venta").count() == 0
    assert pipeline.warehouse.read("detalle_documento").count() == 0
    # fixture docs are far older than any trailing window → loads nothing,
    # still a success response with the window length echoed
    r = c.post("/scheduler/etl/incremental?days=3")
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "success" and body["days_processed"] == 3


def test_daily_route(client):
    c, pipeline = client
    r = c.post("/scheduler/etl/daily")
    assert r.status_code == 200
    assert r.get_json()["status"] == "success"
    # daily = full sync with trailing doc window: dims load, docs windowed out
    assert pipeline.warehouse.read("cliente").count() == 2
    assert pipeline.warehouse.read("producto").count() > 0


def test_scheduler_as_of_validation(client):
    c, pipeline = client
    for route in ("/scheduler/etl/daily", "/scheduler/etl/incremental?days=1&"):
        sep = "" if route.endswith("&") else "?"
        for bad in ("garbage", "2023-11-31", "2023-1-15", ""):
            r = c.post(f"{route}{sep}as_of={bad}")
            assert r.status_code == 400, (route, bad)
            assert r.get_json()["detail"] == "as_of must be YYYY-MM-DD"
    # refused before any entity was synced
    assert pipeline.report().count() == 0
    assert pipeline.warehouse.read("cliente").count() == 0


def test_daily_window_counts_back_from_as_of(client):
    """Fixture docs are emitted on 2023-11-14 (UTC): a daily run as of
    2023-11-20 (cutoff 2023-11-13) loads them, one as of 2023-11-22
    (cutoff 2023-11-15) does not."""
    c, pipeline = client
    assert c.post("/scheduler/etl/daily?as_of=2023-11-22").status_code == 200
    assert pipeline.warehouse.read("cliente").count() == 2
    assert pipeline.warehouse.read("documento_venta").count() == 0
    assert c.post("/scheduler/etl/daily?as_of=2023-11-20").status_code == 200
    docs = {r["id_documento"] for r in pipeline.warehouse.read("documento_venta").collect()}
    assert docs == {10, 11, 14}


def test_incremental_window_counts_back_from_as_of(client):
    c, pipeline = client
    r = c.post("/scheduler/etl/incremental?days=0&as_of=2023-11-15")
    assert r.status_code == 200 and r.get_json()["days_processed"] == 0
    assert pipeline.warehouse.read("documento_venta").count() == 0
    assert c.post("/scheduler/etl/incremental?days=1&as_of=2023-11-15").status_code == 200
    docs = {r["id_documento"] for r in pipeline.warehouse.read("documento_venta").collect()}
    assert docs == {10, 11, 14}
    # documents only: the dimensions stay empty
    assert pipeline.warehouse.read("cliente").count() == 0


def test_error_maps_to_500(client):
    c, pipeline = client
    pipeline.sources["clients"] = lambda: (_ for _ in ()).throw(RuntimeError("boom"))
    r = c.post("/etl/sync/clients")
    assert r.status_code == 500
    assert "boom" in r.get_json()["detail"]


def test_test_sample_stringified(client):
    c, _ = client
    r = c.get("/scheduler/test-sample?n=2")
    assert r.status_code == 200
    body = r.get_json()
    assert set(body) == {"clients", "products", "price_list", "costs", "documents"}
    assert len(body["clients"]) == 2
    assert all(isinstance(v, str) for v in body["clients"][0].values())


def test_test_sample_n_validation(client):
    """Malformed/negative n is a client error, matching the days route
    (ADVICE r8) — not a 500 from the generic pipeline handler."""
    c, _ = client
    assert c.get("/scheduler/test-sample?n=oops").status_code == 400
    assert c.get("/scheduler/test-sample?n=-1").status_code == 400
