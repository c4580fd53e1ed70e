"""Benchmark of the ETL pipeline and the query registry, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 36 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``etl_daily``: after an initial full load of a date-partitioned warehouse,
  daily ``POST /etl/sync/all?start_date=<today-6d>`` requests through the
  Flask test client, with an in-memory Sheets-mirror exporter;
- ``query_sweep``: one pass over a fixed list of registry keys, each run to
  completion and collected, in seed-shuffled order.

Each workload makes as many ops (daily requests; passes over the keys) as
fill ``--seconds`` at their typical duration, checks every output outside
the timed region, and prints as its last stdout line one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``perfbench-info``) records the machine,
versions and the workload's own figures. Everything the run writes lands
under ``.perfbench/`` in the checkout.

``--selftest`` runs each workload's output check on a deliberately corrupted
output and exits 0 only if every check rejects it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_daily", "query_sweep")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench/run.py", allow_abbrev=False)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=36.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    return args


def memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal"):
                return int(line.split()[1]) // 1024
    return 0


def prepare_env(root: str, work: str) -> int:
    """Point every writer at the checkout, make the package importable by
    Spark's Python workers from any cwd, and size Spark to the machine.
    Must run before the session module is imported."""
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver): temp files in the checkout,
    # and no hsperfdata file, which the JVM always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if p
    )
    sys.path.insert(0, root)
    return cpus


def start_spark(work: str, cpus: int, trace: bool):
    from imperio_patitas_etl_spark.session import get_spark

    import spans

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update(spans.event_log_conf(os.path.join(work, "eventlog")))
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: codegen, a shuffle and a python round trip before timing
    spark.range(20_000).selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()
    spark.createDataFrame([(1, "a")], "x long, y string").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus every process under it
    (the Python daemon and workers)."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, grew = {jvm}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "imperio_patitas_etl_spark")):
        print(
            "perfbench: run from the root of a checkout that holds the "
            "imperio_patitas_etl_spark package",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench")
    cpus = prepare_env(root, work)
    sys.path.insert(0, HERE)
    import workloads

    t0 = time.perf_counter()
    spark = start_spark(work, cpus, bool(args.trace))
    session_s = time.perf_counter() - t0
    if args.selftest:
        try:
            return workloads.selftest(spark, work)
        finally:
            stop_spark(spark)
    try:
        res = workloads.run(
            args.workload, spark, work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace),
        )
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": cpus,
            "memory_mb": memory_mb(),
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "data": res.data,
            **versions(spark),
            "session_s": round(session_s, 4),
            "failed_op_share": res.failed / max(res.attempted, 1),
            "peak_rss_mb": peak_rss_mb(spark),
            "op_p50_s": statistics.median(res.op_s),
            "ref_p50_s": statistics.median(res.ref_s),
            "ref_s": res.ref_s,
            **res.info,
        }
        if args.trace:
            res.tracer.job_counts()
        else:
            metrics = {
                "op_p50_ref": (
                    statistics.median(res.op_s) / statistics.median(res.ref_s), "ref"
                ),
                "setup_s": (session_s + res.setup_s, "s"),
            }
    finally:
        stop_spark(spark)
    if args.trace:
        metrics = res.layer_metrics(os.path.join(work, "eventlog"))
    print("perfbench-info " + json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        sys.exit(1)
