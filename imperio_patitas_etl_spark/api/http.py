"""HTTP trigger surface for the ETL pipeline.

The reference exposes its pipeline over FastAPI for manual triggers
(app/api/endpoints.py:17-106) and Cloud Scheduler cron hits
(app/api/scheduler_endpoints.py:19-206). This repo's engine-level
replacement is ``plans.pipeline.EtlPipeline``; this module serves the
same route surface over HTTP with Flask (the HTTP framework available in
this environment), delegating 1:1 to the pipeline:

================================  =====================================
reference route                    here
================================  =====================================
POST /etl/clean-and-reload         POST /etl/clean-and-reload
POST /etl/sync/{entity}            POST /etl/sync/<entity>?start_date=
POST /scheduler/etl/daily          POST /scheduler/etl/daily?as_of=
POST /scheduler/etl/incremental    POST /scheduler/etl/incremental?days=&as_of=
GET  /scheduler/health             GET  /scheduler/health
GET  /scheduler/test-sample        GET  /scheduler/test-sample?n=
================================  =====================================

Design notes:
- The app is a FACTORY over an injected ``EtlPipeline`` — no globals, no
  session construction here; tests drive it with Flask's test client over
  a temp-dir warehouse, production wraps whatever session/warehouse it
  runs (SURVEY.md §7 phase 2's "thin runner replacing FastAPI dispatch",
  now with the actual HTTP layer on top).
- Unknown entity → 404; pipeline errors → 500 with the error string —
  the reference's status mapping (endpoints.py:101-106). A malformed
  ``start_date``, ``as_of``, ``days`` or ``n`` → 400 before the pipeline
  runs, and so does a ``days`` window that reaches before year 1.
  ``as_of`` (YYYY-MM-DD) is the day the scheduler windows count back
  from; without it they use the session's current date.
- The reference runs scheduler jobs on a thread-pool to keep the event
  loop free; under Flask/WSGI each request already has its own worker
  thread, so the delegation is direct. Long jobs at 100 TB belong on a
  real scheduler (the pipeline methods are the unit a DAG runner calls);
  this surface is the manual/cron trigger parity layer.
- Timestamps in responses come from the pipeline's Spark session clock
  where the reference used ``datetime.now()`` — deterministic tests stub
  none of it; the fields are informational, not business data.
"""

from __future__ import annotations

import time
import traceback
from datetime import datetime

from flask import Flask, jsonify, request

from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline

_ENTITIES = ("clients", "products", "documents", "all")


def _is_iso_date(s: str) -> bool:
    """True for a valid calendar date spelled exactly ``YYYY-MM-DD``."""
    try:
        return datetime.strptime(s, "%Y-%m-%d").strftime("%Y-%m-%d") == s
    except ValueError:
        return False


def create_app(pipeline: EtlPipeline) -> Flask:
    app = Flask("imperio_patitas_etl_spark")

    def _fail(exc: Exception, status: int = 500):
        app.logger.error("pipeline error: %s", traceback.format_exc())
        return jsonify({"status": "error", "detail": str(exc)}), status

    def _bad_date(name: str):
        """400 response if query arg ``name`` is given but not YYYY-MM-DD."""
        value = request.args.get(name)
        if value is not None and not _is_iso_date(value):
            return jsonify({"status": "error", "detail": f"{name} must be YYYY-MM-DD"}), 400
        return None

    @app.post("/etl/clean-and-reload")
    def clean_and_reload():
        """Truncate all warehouse tables and reload from the sources
        (endpoints.py:17-48)."""
        try:
            pipeline.clean_and_reload()
        except Exception as e:  # noqa: BLE001 — route boundary
            return _fail(e)
        return jsonify(
            {
                "status": "LIMPIEZA Y RECARGA COMPLETADA",
                "message": "tables truncated and fully reloaded",
            }
        )

    @app.post("/etl/sync/<entity>")
    def run_sync(entity: str):
        """Sync one entity ('clients'|'products'|'documents'|'all');
        'documents'/'all' accept ?start_date=YYYY-MM-DD
        (endpoints.py:50-106). Every branch — not just 'all' — ends by
        mirroring the synced tables to the Sheets exporter, matching the
        reference's per-entity sync_all_to_sheets calls
        (endpoints.py:84-100); ``EtlPipeline.sync`` owns that step."""
        if entity not in _ENTITIES:
            return (
                jsonify({"status": "error", "detail": f"Entidad '{entity}' no encontrada."}),
                404,
            )
        # validate before any work: a bad date would otherwise fail in the
        # documents step, after clients and products were already re-synced
        if bad := _bad_date("start_date"):
            return bad
        try:
            pipeline.sync(entity, start_date=request.args.get("start_date"))
        except Exception as e:  # noqa: BLE001
            return _fail(e)
        return jsonify({"status": "sincronización completada", "entity": entity})

    @app.post("/scheduler/etl/daily")
    def daily():
        """Cron: full run with the trailing document window, ?as_of=
        (scheduler_endpoints.py:19-69)."""
        if bad := _bad_date("as_of"):
            return bad
        t0 = time.time()
        try:
            pipeline.daily(as_of=request.args.get("as_of"))
        except Exception as e:  # noqa: BLE001
            return _fail(e)
        return jsonify(
            {
                "status": "success",
                "message": "ETL diario completado",
                "duration_seconds": round(time.time() - t0, 3),
                "executed_by": "scheduler",
            }
        )

    @app.post("/scheduler/etl/incremental")
    def incremental():
        """Cron: documents-only trailing window, ?days=N&as_of=
        (scheduler_endpoints.py:71-125)."""
        try:
            days = int(request.args.get("days", "1"))
        except ValueError:
            return jsonify({"status": "error", "detail": "days must be an int"}), 400
        if days < 0:
            # a negative window puts the cutoff in the future: loads nothing
            return jsonify({"status": "error", "detail": "days must be >= 0"}), 400
        if bad := _bad_date("as_of"):
            return bad
        t0 = time.time()
        try:
            pipeline.incremental(days=days, as_of=request.args.get("as_of"))
        except OverflowError:
            # the window reaches before 0001-01-01: the cutoff raises
            # before any source is read, so nothing was loaded
            return jsonify({"status": "error", "detail": "days reaches before year 1"}), 400
        except Exception as e:  # noqa: BLE001
            return _fail(e)
        return jsonify(
            {
                "status": "success",
                "message": f"ETL incremental completado ({days} días)",
                "duration_seconds": round(time.time() - t0, 3),
                "days_processed": days,
            }
        )

    @app.get("/scheduler/health")
    def health():
        """Liveness probe (scheduler_endpoints.py:127-138)."""
        return jsonify({"status": "healthy", "service": "imperio-patitas-etl-spark"})

    @app.get("/scheduler/test-sample")
    def test_sample():
        """Smoke: first n raw rows per source, stringified, no load
        (scheduler_endpoints.py:140-182)."""
        # validate BEFORE the pipeline try-block so a malformed or
        # negative n is a client error (400), matching the days route,
        # not a masked 500
        try:
            n = int(request.args.get("n", "5"))
        except ValueError:
            return jsonify({"status": "error", "detail": "n must be an int"}), 400
        if n < 0:
            return jsonify({"status": "error", "detail": "n must be >= 0"}), 400
        try:
            sample = pipeline.test_sample(n)
        except Exception as e:  # noqa: BLE001
            return _fail(e)
        return jsonify(
            {
                name: [{k: str(v) for k, v in row.asDict().items()} for row in rows]
                for name, rows in sample.items()
            }
        )

    return app
