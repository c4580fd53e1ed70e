"""The two workloads, their output checks and their per-layer metrics.

Layers are named by the package module the benchmark calls into. The
benchmark times those calls from outside: it injects a warehouse, sources
and an exporter that open a span around each call, subclasses
``EtlPipeline`` to span its entity syncs and mirror, and spans each HTTP
request and registry key itself. The same wrappers run with tracing off,
where a span costs one ``if``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from decimal import Decimal

import datagen
import spans
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.api.http import create_app
from imperio_patitas_etl_spark.operators.checkpoint import persistent_rdd_ids, release_rdds
from imperio_patitas_etl_spark.plans.entities import transform_documents
from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
from imperio_patitas_etl_spark.queries import all_oracles, all_queries
from imperio_patitas_etl_spark.sinks.warehouse import WAREHOUSE_SCHEMAS, ParquetWarehouse

TABLES = tuple(WAREHOUSE_SCHEMAS)
ENTITY_SYNCS = ("clients", "products", "documents")
SOURCES = ("clients", "products", "price_list", "costs", "documents")

#: query_sweep keys: relational keys of 2-13 Spark jobs each next to
#: near-duplicate keys of 3 and 21 jobs, so per-job and per-row costs
#: separate. Sized so one pass fits a run (see README.md for the keys the
#: full list would add).
SWEEP_KEYS = (
    "tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q9", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q18",
    "multi_join_star", "groupby_avg", "topk_per_group", "dedup_first",
    "filter_project_detail", "join_price_broadcast", "upsert_latest_wins",
    "window_running_sum", "window_range_rolling", "explode_variants",
    "dedup_exact", "ngram_jaccard_dedup",
)
QUERY_MODULES = ("tpch", "core", "entity", "text")

#: source set-ups per run; setup_s takes their median
SETUP_REPEATS = 3
#: run time budgeted per etl_daily request and per sweep pass, from their
#: typical 9-13 s and 21 s on a 4-vCPU VM; a run makes at least three
#: requests (the first after the load can be the slowest) and at least one
#: pass
TICK_S = 12.0
SWEEP_S = 25.0
#: rows the reference job hashes: about 0.15 s on a 4-vCPU VM, long
#: enough that scheduling jitter does not dominate it
REF_ROWS = 24_000_000
#: untimed reference runs before the first timed one
REF_WARMUP = 4
#: reference runs timed before each daily request and after the last one;
#: single timings jitter by about a third, so the median needs many
REF_PER_TICK = 8


@dataclass
class Result:
    tracer: spans.Tracer
    data: str
    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    #: latencies of the reference job, timed between ops
    ref_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    info: dict = field(default_factory=dict)
    #: per-layer values the workload measures itself (file listings,
    #: entity counts, released RDDs), already per op
    layer: dict = field(default_factory=dict)
    #: on-disk bytes of the inputs one op reads
    input_bytes_on_disk: int = 1
    cpus: int = 1
    problems: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.correct = False
        self.problems.append(msg)
        print(f"perfbench check failed: {msg}", file=sys.stderr)

    def layer_metrics(self, log_dir: str) -> dict[str, tuple[float, str]]:
        """After the session stops: every per-layer metric, per op. The self
        times add up to ``bench.wall_s``, the traced time per op."""
        tr = self.tracer
        totals = spans.task_totals_by_group(log_dir)
        selfs = tr.self_times()
        n = len(self.op_s)
        wall = sum(s.dur for s in tr.spans if s.parent is None)
        agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        t_all = spans.TaskTotals()
        for s in tr.spans:
            a = agg[s.name]
            a["self_s"] += selfs[s.id]
            for k in ("jobs", "stages", "tasks", "cells"):
                a[k] += s.attrs.get(k, 0)
            t = totals.get(s.group)
            if t is not None:
                for k in vars(t_all):
                    setattr(t_all, k, getattr(t_all, k) + getattr(t, k))

        def v(name: str, key: str = "self_s") -> float:
            return agg[name][key] / n if name in agg else 0.0

        m: dict[str, tuple[float, str]] = {
            "bench.wall_s": (wall / n, "s"),
            "bench.op.self_s": (v("bench.op"), "s"),
            "api.http.self_s": (v("api.http"), "s"),
            "plans.pipeline.sync.self_s": (v("plans.pipeline.sync"), "s"),
            "plans.pipeline.mirror.self_s": (v("plans.pipeline.mirror"), "s"),
            "sources.read.self_s": (v("sources.read"), "s"),
            "sinks.warehouse.ensure_all.self_s": (v("sinks.warehouse.ensure_all"), "s"),
            "bench.exporter.self_s": (v("bench.exporter"), "s"),
            "operators.checkpoint.release.self_s": (v("operators.checkpoint.release"), "s"),
        }
        for e in ENTITY_SYNCS:
            name = f"plans.pipeline.sync_{e}"
            m[f"{name}.self_s"] = (v(name), "s")
            m[f"{name}.jobs"] = (v(name, "jobs"), "count")
        for t in TABLES:
            name = f"sinks.warehouse.upsert.{t}"
            m[f"{name}.self_s"] = (v(name), "s")
            for k in ("jobs", "stages", "tasks"):
                m[f"{name}.{k}"] = (v(name, k), "count")
        exp = [f"sinks.warehouse.export_stringified.{t}" for t in TABLES]
        m["sinks.warehouse.export_stringified.s"] = (sum(v(x) for x in exp), "s")
        m["sinks.warehouse.export_stringified.cells"] = (
            sum(v(x, "cells") for x in exp), "count"
        )
        for mod in QUERY_MODULES:
            name = f"queries.{mod}"
            m[f"{name}.s"] = (v(name), "s")
            for k in ("jobs", "stages", "tasks"):
                m[f"{name}.{k}"] = (v(name, k), "count")
        for k in (
            "sinks.warehouse.files_written",
            "sinks.warehouse.partitions_written",
            "sinks.warehouse.bytes_written_per_table_byte",
            "operators.checkpoint.rdds_released",
        ):
            m[k] = (self.layer.get(k, 0.0), "ratio" if k.endswith("byte") else "count")
        for t in TABLES:
            for k, unit in (
                ("rows_in", "count"),
                ("valid", "count"),
                ("invalid", "count"),
                ("reject_ratio", "ratio"),
            ):
                m[f"plans.entities.{t}.{k}"] = (self.layer.get(f"plans.entities.{t}.{k}", 0), unit)
        jobs = sum(a["jobs"] for a in agg.values())
        stages = sum(a["stages"] for a in agg.values())
        tasks = sum(a["tasks"] for a in agg.values())
        m.update(
            {
                "sources.input_bytes": (t_all.input_bytes / n, "bytes"),
                "sources.read_amplification": (
                    t_all.input_bytes / n / self.input_bytes_on_disk, "ratio"
                ),
                "spark.jobs": (jobs / n, "count"),
                "spark.tasks_per_stage": (tasks / stages if stages else 0.0, "count"),
                "spark.shuffle_write_bytes": (t_all.shuffle_write_bytes / n, "bytes"),
                "spark.shuffle_read_bytes": (t_all.shuffle_read_bytes / n, "bytes"),
                "spark.spill_bytes": (t_all.spill_bytes / n, "bytes"),
                "spark.executor_run_s": (t_all.run_s / n, "s"),
                "spark.executor_cpu_s": (t_all.cpu_s / n, "s"),
                "spark.gc_s": (t_all.gc_s / n, "s"),
                "spark.core_busy_ratio": (
                    t_all.run_s / (wall * self.cpus) if wall else 0.0, "ratio"
                ),
            }
        )
        return m


def run(name: str, spark, work: str, *, seed: int, seconds: float, trace: bool,
        corrupt: bool = False) -> Result:
    fn = {"etl_daily": etl_daily, "query_sweep": query_sweep}[name]
    res = Result(spans.Tracer(spark, trace), data="", cpus=spark.sparkContext.defaultParallelism)
    # the reference job's own first runs are slow while the JVM compiles
    # its code path; run them before any timing that counts
    _reference(res, spark, REF_WARMUP)
    res.ref_s.clear()
    fn(res, spark, work, seed, seconds, corrupt)
    if trace:
        path = os.path.join(work, "out", f"trace-{name}-{seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        res.tracer.write(path, {"workload": name, "seed": seed})
        res.info["trace_file"] = os.path.relpath(path, os.path.dirname(work))
    if res.problems:
        res.info["problems"] = res.problems[:20]
    return res


def _reference(res: Result, spark, times: int) -> None:
    """Time a fixed Spark job that calls no package code, ``times`` times.
    Run between ops, it measures how fast the host runs Spark at that
    moment; ``op_p50_ref`` divides by it, so a host that slows down for
    minutes (shared machines do) moves both alike and the ratio holds."""
    parts = spark.sparkContext.defaultParallelism
    for _ in range(times):
        t0 = time.perf_counter()
        spark.range(0, REF_ROWS, 1, parts).selectExpr("sum(hash(id))").collect()
        res.ref_s.append(time.perf_counter() - t0)


def _op_count(seconds: float, typical_s: float, least: int) -> int:
    """How many ops fill ``seconds`` at the op's typical duration here. The
    count depends on ``--seconds`` alone, so every run takes its median
    over the same op positions."""
    return max(least, round(seconds / typical_s))


def _checked(res: Result, check, *args) -> None:
    """Run an output check; a check that cannot complete fails the run."""
    try:
        check(*args)
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        res.fail(f"{check.__name__} raised {type(e).__name__}: {e}"[:300])


def _timed_op(res: Result, tracer: spans.Tracer, op: str, fn) -> float:
    """Run one operation under its root span; count it and any failure."""
    tracer.op = op
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        with tracer.span("bench.op", op=op):
            ok = fn()
    except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
        traceback.print_exc()
        ok = False
    dur = time.perf_counter() - t0
    if ok is False:
        res.failed += 1
    return dur


def _median_setup(fn) -> tuple[float, object]:
    times, out = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _tail_info(info: dict, prefix: str, values: list[float]) -> None:
    n = len(values)
    info[f"{prefix}_count"] = n
    if n >= 11:
        k = n - 11
        info[f"{prefix}_tail_pct"] = round(100.0 * (k + 1) / n, 1)
        info[f"{prefix}_tail_s"] = sorted(values)[k]
    if values:
        info[f"{prefix}_max_s"] = max(values)


def _data_files(path: str) -> dict[str, tuple[int, int]]:
    """Size and mtime of every parquet data file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _dir_bytes(path: str) -> int:
    return sum(size for size, _ in _data_files(path).values())


# -- ETL wrappers ---------------------------------------------------------


class TracedWarehouse(ParquetWarehouse):
    """The warehouse with a span around each call the pipeline makes, and
    (traced) a listing of the table's data files before and after each
    upsert."""

    def __init__(self, spark, root: str, tracer: spans.Tracer, partitioned: bool = False):
        super().__init__(spark, root, partitioned=partitioned)
        self.tracer = tracer
        self.writes = defaultdict(float)

    def ensure_all(self) -> None:
        with self.tracer.span("sinks.warehouse.ensure_all"):
            super().ensure_all()

    def upsert(self, table: str, source) -> None:
        before = _data_files(self.path(table)) if self.tracer.enabled else None
        with self.tracer.span(f"sinks.warehouse.upsert.{table}"):
            super().upsert(table, source)
        if before is not None:
            after = _data_files(self.path(table))
            new = [p for p, st in after.items() if before.get(p) != st]
            self.writes["files"] += len(new)
            self.writes["partitions"] += len({os.path.dirname(p) for p in new})
            self.writes["bytes"] += sum(after[p][0] for p in new)
            self.writes["table_bytes"] += sum(st[0] for st in after.values())

    def export_stringified(self, table: str) -> list[list[str]]:
        with self.tracer.span(f"sinks.warehouse.export_stringified.{table}") as s:
            rows = super().export_stringified(table)
            if s is not None:
                s.attrs["cells"] = sum(len(r) for r in rows[1:])
        return rows


@dataclass
class TracedPipeline(EtlPipeline):
    tracer: spans.Tracer | None = None

    def sync(self, entity: str, start_date: str | None = None) -> None:
        with self.tracer.span("plans.pipeline.sync", entity=entity):
            super().sync(entity, start_date)

    def sync_clients(self) -> int:
        with self.tracer.span("plans.pipeline.sync_clients"):
            return super().sync_clients()

    def sync_products(self) -> int:
        with self.tracer.span("plans.pipeline.sync_products"):
            return super().sync_products()

    def sync_documents(self, start_date: str | None = None) -> int:
        with self.tracer.span("plans.pipeline.sync_documents"):
            return super().sync_documents(start_date)

    def mirror(self, tables) -> bool:
        with self.tracer.span("plans.pipeline.mirror"):
            return super().mirror(tables)


def _sources(spark, tracer: spans.Tracer, src_dir: str, documents) -> dict:
    """The pipeline's source callables: parquet reads of ``src_dir``, except
    ``documents``, which the caller supplies."""

    def reader(name: str):
        def read():
            with tracer.span("sources.read", source=name):
                if name == "documents":
                    return documents()
                return spark.read.parquet(os.path.join(src_dir, f"{name}.parquet"))

        return read

    return {n: reader(n) for n in SOURCES}


def _report(pipe: EtlPipeline, n_rows: int) -> dict[str, tuple[int, int]]:
    rows = pipe.report().collect()[-n_rows:]
    return {r["entity"]: (r["valid"], r["invalid"]) for r in rows}


def _collect(df):
    """A DataFrame's rows as Arrow, and their order-insensitive digest."""
    table = df.toArrow()
    return table, digest(table, spark_side=True)


def _entity_layer(res: Result, report: dict[str, tuple[int, int]]) -> None:
    for t, (valid, invalid) in report.items():
        n = valid + invalid
        res.layer[f"plans.entities.{t}.rows_in"] = n
        res.layer[f"plans.entities.{t}.valid"] = valid
        res.layer[f"plans.entities.{t}.invalid"] = invalid
        res.layer[f"plans.entities.{t}.reject_ratio"] = invalid / n if n else 0.0


def _write_layer(res: Result, writes: dict) -> None:
    res.layer["sinks.warehouse.files_written"] = writes["files"] / len(res.op_s)
    res.layer["sinks.warehouse.partitions_written"] = writes["partitions"] / len(res.op_s)
    res.layer["sinks.warehouse.bytes_written_per_table_byte"] = (
        writes["bytes"] / writes["table_bytes"] if writes["table_bytes"] else 0.0
    )


def _drop_one_row(table_dir: str) -> None:
    """Self-test corruption: rewrite the table's first non-empty data file
    without its last row."""
    import pyarrow.parquet as pq

    for path in sorted(_data_files(table_dir)):
        table = pq.read_table(path)
        if table.num_rows:
            # Spark writes timestamps as INT96; keep that physical type
            pq.write_table(
                table.slice(0, table.num_rows - 1), path, use_deprecated_int96_timestamps=True
            )
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return


# -- etl_daily ------------------------------------------------------------

def etl_daily(res: Result, spark, work: str, seed: int, seconds: float, corrupt: bool) -> None:
    """The reference's daily job, one day at a time: ``POST
    /etl/sync/all?start_date=<today-6d>`` re-syncs clients and products in
    full and the last seven days of documents into a date-partitioned
    warehouse, then mirrors all four tables."""
    tracer = res.tracer
    untraced = spans.Tracer(spark, False)
    src_dir = os.path.join(work, "etl_src")
    src_s, src = _median_setup(lambda: datagen.write_bsale_sources(src_dir, seed))
    clock = {"today": src.tick_start - dt.timedelta(days=1)}
    docs_path = os.path.join(src_dir, "documents.parquet")

    def emitted_so_far():
        """The source system on ``today``: every document emitted by the end
        of that day, plus the undated ones."""
        end = datagen.epoch_s(clock["today"]) + 86_400
        return spark.read.parquet(docs_path).filter(
            F.col("emissionDate").isNull() | (F.col("emissionDate") < end)
        )

    mirrored: dict[str, int] = {}

    def pipeline(tr: spans.Tracer, mirror: bool) -> TracedPipeline:
        def exporter(table: str, rows: list[list[str]]) -> None:
            with tr.span("bench.exporter"):
                mirrored[table] = len(rows) - 1

        return TracedPipeline(
            spark,
            TracedWarehouse(spark, wh_dir, tr, partitioned=True),
            _sources(spark, tr, src_dir, documents=emitted_so_far),
            exporter if mirror else None,
            tracer=tr,
        )

    wh_dir = os.path.join(work, "etl_wh")
    shutil.rmtree(wh_dir, ignore_errors=True)
    # set-up: the initial full load of everything emitted before the first
    # tick; the mirror is checked after the last request, so it stays off
    load = pipeline(untraced, mirror=False)
    load_s = _timed_op(res, untraced, "initial_load", lambda: load.sync("all"))
    load_report = _report(load, 4)
    snap = os.path.join(work, "etl_snap")
    shutil.rmtree(snap, ignore_errors=True)
    shutil.copytree(wh_dir, snap)
    pipe = pipeline(tracer, mirror=True)
    client = create_app(pipe).test_client()

    def tick() -> bool:
        clock["today"] += dt.timedelta(days=1)
        window = (clock["today"] - dt.timedelta(days=6)).isoformat()
        with tracer.span("api.http"):
            resp = client.post(f"/etl/sync/all?start_date={window}")
        if resp.status_code != 200:
            print(f"tick {clock['today']}: HTTP {resp.status_code} {resp.get_data(as_text=True)[:500]}",
                  file=sys.stderr)
        return resp.status_code == 200

    res.setup_s = src_s + load_s
    res.input_bytes_on_disk = _dir_bytes(src_dir)
    res.data = (
        f"bsale sources {src.units}, history from {src.first_day}, ticks from "
        f"{src.tick_start}, residues {datagen.dirt_residues(seed)}"
    )
    reports = []
    supplied = [_documents_supplied(docs_path, None, clock["today"])]
    for i in range(min(_op_count(seconds, TICK_S, 3), datagen.TICK_DAYS)):
        _reference(res, spark, REF_PER_TICK)
        res.op_s.append(_timed_op(res, tracer, f"tick{i}", tick))
        reports.append(_report(pipe, 4))
        supplied.append(
            _documents_supplied(docs_path, clock["today"] - dt.timedelta(days=6), clock["today"])
        )
    _reference(res, spark, REF_PER_TICK)
    res.info.update(initial_load_s=load_s, tick_s=res.op_s,
                    last_day=clock["today"].isoformat())
    _tail_info(res.info, "tick", res.op_s)
    if corrupt:
        _drop_one_row(os.path.join(wh_dir, "detalle_documento"))
    _checked(res, _check_daily, res, spark, wh_dir, snap, src, emitted_so_far,
             [load_report] + reports, supplied, dict(mirrored))
    _entity_layer(res, reports[-1])
    _write_layer(res, pipe.warehouse.writes)


def _documents_supplied(docs_path: str, first: dt.date | None, last: dt.date) -> int:
    """Documents the source supplies to a sync on day ``last``: those
    emitted by the end of that day, from ``first`` on if given (a windowed
    sync drops the undated ones), else with the undated ones."""
    import pyarrow.parquet as pq

    emitted = pq.read_table(docs_path, columns=["emissionDate"])["emissionDate"]
    dated = emitted.drop_null().to_numpy()
    keep = dated < datagen.epoch_s(last) + 86_400
    if first is not None:
        return int((keep & (dated >= datagen.epoch_s(first))).sum())
    return int(keep.sum()) + emitted.null_count


def _check_daily(res, spark, wh_dir, snap_dir, src, emitted_so_far, reports, supplied,
                 mirrored) -> None:
    """After the last tick: each fact table equals the accepted output of
    ``transform_documents`` over every document emitted so far, the
    dimension tables equal their state after the initial load, in every
    sync valid + invalid adds up to the units the source supplied for each
    entity, and the last mirror holds as many rows as each table."""
    wh = ParquetWarehouse(spark, wh_dir, partitioned=True)
    # each table is read once: every read of a fact table lists all its
    # partitions, which costs seconds on a long history
    stored = {}
    for table in TABLES:
        cols = [F.col(f.name).cast(f.dataType) for f in WAREHOUSE_SCHEMAS[table].fields]
        stored[table] = _collect(wh.read(table).select(*cols))
    headers, lines = transform_documents(emitted_so_far())
    for table, expected in (("documento_venta", headers), ("detalle_documento", lines)):
        cols = [F.col(f.name).cast(f.dataType) for f in WAREHOUSE_SCHEMAS[table].fields]
        if _collect(expected.accepted.select(*cols))[1] != stored[table][1]:
            res.fail(f"after the last tick {table} differs from transform_documents")
    snap = ParquetWarehouse(spark, snap_dir, partitioned=True)
    for table in ("cliente", "producto"):
        cols = [F.col(f.name).cast(f.dataType) for f in WAREHOUSE_SCHEMAS[table].fields]
        if _collect(snap.read(table).select(*cols))[1] != stored[table][1]:
            res.fail(f"a daily re-sync changed table {table}")
    for i, (report, n_docs) in enumerate(zip(reports, supplied)):
        units = {"cliente": src.units["cliente"], "producto": src.units["producto"],
                 "documento_venta": n_docs}
        for table, want in units.items():
            valid, invalid = report.get(table, (None, None))
            if valid is None or valid + invalid != want:
                res.fail(f"sync {i}: {table} valid+invalid={valid}+{invalid}, "
                         f"source supplied {want}")
    for table in TABLES:
        n = stored[table][0].num_rows
        if mirrored.get(table) != n:
            res.fail(f"last mirror of {table} has {mirrored.get(table)} rows, table {n}")


# -- query_sweep ----------------------------------------------------------

def _canon_type(t, spark_side: bool) -> str:
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz and not spark_side else "timestamp"
    if pa.types.is_large_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t) or pa.types.is_list(t):
        return f"list<{_canon_type(t.value_type, spark_side)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{t.field(i).name}:{_canon_type(t.field(i).type, spark_side)}"
            for i in range(t.num_fields)
        ) + ">"
    return str(t)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(table, spark_side: bool) -> str:
    """Order-insensitive digest of an Arrow table: column names, canonical
    types and the sorted multiset of exact row values."""
    names = sorted(table.column_names)
    types = [_canon_type(table.schema.field(n).type, spark_side) for n in names]
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(
        (tuple(_norm(x) for x in r) for r in zip(*cols)),
        key=lambda r: tuple(str(x) for x in r),
    )
    return hashlib.sha256(repr((names, types, rows)).encode()).hexdigest()


def _fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(data_dir)):
        h.update(f.encode())
        with open(os.path.join(data_dir, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def oracle_digests(work: str, data_dir: str, keys) -> dict[str, str]:
    """DuckDB oracle digest per key, computed once per data content, digest
    code and oracle SQL text: the cache file is named by the first two, and
    each entry by its key and the hash of its SQL."""
    import inspect

    code = "".join(inspect.getsource(f) for f in (_canon_type, _norm, digest))
    path = os.path.join(work, "oracle", f"{_fingerprint(data_dir)}-{_sha(code)}.json")
    oracles = all_oracles()
    entry = {k: f"{k}:{_sha(oracles[k])}" for k in keys}
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [k for k in keys if entry[k] not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for f in sorted(os.listdir(data_dir)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
        for k in missing:
            cached[entry[k]] = digest(con.execute(oracles[k]).arrow(), spark_side=False)
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {k: cached[entry[k]] for k in keys}


def query_sweep(res: Result, spark, work: str, seed: int, seconds: float, corrupt: bool) -> None:
    """Registry keys run to completion and collected, seed-shuffled."""
    tracer = res.tracer
    data_dir = os.path.join(work, "tables")
    res.setup_s, _ = _median_setup(lambda: datagen.write_tables(data_dir))
    res.input_bytes_on_disk = _dir_bytes(data_dir)
    res.data = f"registry tables at sf0.001 ({res.input_bytes_on_disk} bytes)"
    queries = all_queries()
    order = list(SWEEP_KEYS)
    random.Random(seed).shuffle(order)
    outputs: dict[str, object] = {}
    released = 0
    key_s = defaultdict(list)

    def one(key: str) -> bool:
        nonlocal released
        fn = queries[key]
        before = persistent_rdd_ids(spark)
        with tracer.span(f"queries.{fn.__module__.rsplit('.', 1)[-1]}", key=key):
            outputs[key] = fn(spark, data_dir).toArrow()
        with tracer.span("operators.checkpoint.release"):
            owned = persistent_rdd_ids(spark) - before
            release_rdds(spark, owned)
        released += len(owned)
        return True

    for _ in range(_op_count(seconds, SWEEP_S, 1)):
        pass_s = 0.0
        for key in order:
            _reference(res, spark, 1)
            d = _timed_op(res, tracer, key, lambda k=key: one(k))
            key_s[key].append(d)
            pass_s += d
        res.op_s.append(pass_s)
    _reference(res, spark, 1)
    res.layer["operators.checkpoint.rdds_released"] = released / len(res.op_s)
    lat = [d for v in key_s.values() for d in v]
    res.info.update(order=order, sweep_s=res.op_s, query_p50_s=statistics.median(lat),
                    key_s={k: v for k, v in key_s.items()})
    _tail_info(res.info, "query", lat)
    if corrupt:
        key = order[0]
        outputs[key] = outputs[key].slice(0, max(outputs[key].num_rows - 1, 0))
    _checked(res, _check_sweep, res, work, data_dir, order, outputs)


def _check_sweep(res, work, data_dir, order, outputs) -> None:
    want = oracle_digests(work, data_dir, order)
    for key in order:
        if key not in outputs:
            res.fail(f"{key}: no output")
        elif digest(outputs[key], spark_side=True) != want[key]:
            res.fail(f"{key}: output digest differs from its DuckDB oracle")


# -- self-test ------------------------------------------------------------

def selftest(spark, work: str) -> int:
    """Each workload's check must reject a corrupted output: one detail line
    dropped from the warehouse after the last tick (etl_daily), one result
    row dropped from a key's output (query_sweep)."""
    caught = {}
    for name in ("etl_daily", "query_sweep"):
        res = run(name, spark, work, seed=1, seconds=0, trace=False, corrupt=True)
        caught[name] = not res.correct
    print(json.dumps({"selftest": caught}))
    return 0 if all(caught.values()) else 1
