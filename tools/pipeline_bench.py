"""End-to-end warehouse pipeline at bench scale.

``EtlPipeline`` full sync → incremental window re-sync → full re-sync
idempotence check, against sf0.1-sized DIRTY Bsale-shaped inputs derived
from the testdata tables. The fixture-scale tests
(tests/test_pipeline_e2e.py) prove the branch semantics; this records the
WALL TIME of the same flow at bench scale, exercising the
partition-scoped upsert path (``ParquetWarehouse(partitioned=True)``).

Source synthesis (setup phase, untimed): the sf0.1 tables are reshaped
into the reference's nested API schemas with deterministic dirt injected
at fixed key strides, so every validation branch carries real row volume:

  clients   ← customer (15k): NULL id (÷53), sentinel firstName (÷41),
              malformed RUT (÷37), bad email (÷11, warn-only)
  products  ← part (20k): 2 variants each; sentinel name (÷43), missing
              SKU on the first active variant (÷31), inactive first
              variant (÷5); price list omits every 19th product
              (price-abort branch) and zeroes every 47th price
              (invalid_price); costs cover every 2nd variant, zero
              history on every 3rd of those (price×0.65 fallback)
  documents ← orders (150k) + lineitem (600k) detail arrays: negative
              netAmount (÷29), NULL emissionDate (÷31), dangling
              client FK (÷13 — passes by contract), zero-quantity
              detail lines (÷23)

Timed phases (printed as one JSON line, appended to BASELINE.md):

  t_sync_all     pipeline.sync('all') into an empty warehouse
  t_incremental  pipeline.incremental(days=INCR_DAYS, as_of=INCR_AS_OF)
                 — the cutoff (mid-1994) lands inside the o_orderdate
                 range, so a real document subset re-syncs through the
                 partition-scoped MERGE
  t_resync_all   second full sync('all') — the idempotent upsert pass
  idempotent     post-resync state equals post-sync state (per-table
                 exceptAll in both directions == 0)

Usage: python tools/pipeline_bench.py [sf_dir] (default testdata sf0.1)

The session is ``session.get_spark``'s: ``SPARK_GRAFT_CPUS`` sets its
core count and ``SPARK_GRAFT_DRIVER_MEM`` its heap.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC_DIR = "/tmp/pipeline_bench_src"
WH_DIR = "/tmp/pipeline_bench_wh"

#: incremental window: the 1,500 days before the end of the 1992-1998
#: o_orderdate range, a cutoff of 1994-06-24, so the window re-syncs a
#: real subset on every run, whatever the wall-clock date
INCR_AS_OF = "1998-08-02"
INCR_DAYS = 1500


def build_sources(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from imperio_patitas_etl_spark.sources.parquet import load_table

    shutil.rmtree(SRC_DIR, ignore_errors=True)
    os.makedirs(SRC_DIR)

    cust = load_table(spark, sf_dir, "customer")
    clients = cust.select(
        F.when(F.col("c_custkey") % 53 == 0, None)
        .otherwise(F.col("c_custkey"))
        .cast("long")
        .alias("id"),
        F.when(F.col("c_custkey") % 41 == 0, "  ")
        .otherwise(F.split("c_name", "#")[0])
        .alias("firstName"),
        F.col("c_mktsegment").alias("lastName"),
        F.when(F.col("c_custkey") % 37 == 0, "BADRUT")
        .otherwise(
            F.concat(
                (F.lit(10000000) + F.col("c_custkey") % 80000000).cast("string"),
                F.lit("-"),
                (F.col("c_custkey") % 10).cast("string"),
            )
        )
        .alias("code"),
        F.when(F.col("c_custkey") % 11 == 0, "not-an-email")
        .otherwise(F.concat(F.lit("u"), F.col("c_custkey"), F.lit("@example.com")))
        .alias("email"),
        F.concat(F.lit("+56 9 "), (F.col("c_custkey") % 100000000).cast("string")).alias(
            "phone"
        ),
        F.concat(F.lit("Calle "), (F.col("c_custkey") % 999).cast("string")).alias(
            "address"
        ),
        (F.lit(1700000000) + F.col("c_custkey")).cast("long").alias("creationDate"),
    )
    clients.write.mode("overwrite").parquet(f"{SRC_DIR}/clients.parquet")

    part = load_table(spark, sf_dir, "part")
    variant = (
        "struct(CAST(p_partkey * 10 + {k} AS LONG) AS id, "
        "{code} AS code, CAST(NULL AS STRING) AS barCode, "
        "CAST({state} AS INT) AS state, p_partkey % 2 = 0 AS track)"
    )
    v0 = variant.format(
        k=0,
        code=(
            "CASE WHEN p_partkey % 31 = 0 THEN CAST(NULL AS STRING) "
            "ELSE concat('SKU', CAST(p_partkey * 10 AS STRING)) END"
        ),
        state="CASE WHEN p_partkey % 5 = 0 THEN 1 ELSE 0 END",
    )
    v1 = variant.format(
        k=1,
        code="concat('SKU', CAST(p_partkey * 10 + 1 AS STRING))",
        state="0",
    )
    products = part.select(
        F.col("p_partkey").cast("long").alias("product_order"),
        F.col("p_partkey").cast("long").alias("id"),
        F.when(F.col("p_partkey") % 43 == 0, "null")
        .otherwise(F.col("p_name"))
        .alias("name"),
        F.col("p_type").alias("description"),
        (F.lit(1700000000) + F.col("p_partkey")).cast("long").alias("creationDate"),
        F.expr(f"struct(array({v0}, {v1}) AS items)").alias("variants"),
    )
    products.write.mode("overwrite").parquet(f"{SRC_DIR}/products.parquet")

    price_list = (
        part.filter(F.col("p_partkey") % 19 != 0)
        .select(
            F.explode(
                F.expr(
                    "array(CAST(p_partkey * 10 AS LONG),"
                    " CAST(p_partkey * 10 + 1 AS LONG))"
                )
            ).alias("variantid"),
            F.col("p_partkey"),
        )
        .select(
            "variantid",
            F.when(F.col("p_partkey") % 47 == 0, 0.0)
            .otherwise((F.lit(1000) + F.col("p_partkey") % 9000).cast("double"))
            .alias("variantValue"),
        )
    )
    price_list.write.mode("overwrite").parquet(f"{SRC_DIR}/price_list.parquet")

    costs = (
        part.filter(F.col("p_partkey") % 2 == 0)
        .select(
            F.col("p_partkey").cast("long").alias("pk"),
            (F.col("p_partkey") * 10).cast("long").alias("variant_id"),
            ((F.col("p_partkey") % 5000) + 100).cast("double").alias("averageCost"),
        )
        .select(
            "variant_id",
            "averageCost",
            F.expr(
                "CASE WHEN pk % 3 = 0 THEN array(struct(CAST(0.0 AS DOUBLE) AS cost)) "
                "ELSE array(struct(averageCost AS cost)) END"
            ).alias("history"),
        )
    )
    costs.write.mode("overwrite").parquet(f"{SRC_DIR}/costs.parquet")

    orders = load_table(spark, sf_dir, "orders")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata
    # (11,785 duplicate groups at sf0.01) — number lines per order so the
    # synthesized detail ids are genuinely unique merge keys
    from pyspark.sql.window import Window

    lw = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_rn", F.row_number().over(lw)
    )
    details = (
        li.select(
            F.col("l_orderkey"),
            F.struct(
                (F.col("l_orderkey") * 1000 + F.col("l_rn"))
                .cast("long")
                .alias("id"),
                F.struct((F.col("l_partkey") * 10).cast("long").alias("id")).alias(
                    "variant"
                ),
                F.when(
                    (F.col("l_orderkey") + F.col("l_rn")) % 23 == 0, 0.0
                )
                .otherwise(F.col("l_quantity").cast("double"))
                .alias("quantity"),
                (F.col("l_extendedprice") / F.col("l_quantity"))
                .cast("double")
                .alias("netUnitValue"),
                F.col("l_discount").cast("double").alias("discount"),
                F.col("l_extendedprice").cast("double").alias("netTotal"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.collect_list("item").alias("items"))
    )
    documents = (
        orders.join(details, orders.o_orderkey == details.l_orderkey, "left")
        .select(
            F.col("o_orderkey").cast("long").alias("id"),
            F.when(F.col("o_orderkey") % 31 == 0, None)
            .otherwise(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")))
            .cast("long")
            .alias("emissionDate"),
            F.col("o_orderkey").cast("long").alias("number"),
            F.struct(
                F.when(F.col("o_orderkey") % 13 == 0, F.col("o_custkey") + 1)
                .otherwise(F.col("o_custkey"))
                .cast("long")
                .alias("id")
            ).alias("client"),
            F.struct(F.lit(5).cast("long").alias("id")).alias("documentType"),
            F.when(F.col("o_orderkey") % 29 == 0, -F.col("o_totalprice"))
            .otherwise(F.col("o_totalprice"))
            .cast("double")
            .alias("netAmount"),
            (F.col("o_totalprice") * 0.19).cast("double").alias("taxAmount"),
            (F.col("o_totalprice") * 1.19).cast("double").alias("totalAmount"),
            F.struct(
                F.coalesce(
                    F.col("items"),
                    F.expr(
                        "CAST(array() AS array<struct<id:bigint,"
                        "variant:struct<id:bigint>,quantity:double,"
                        "netUnitValue:double,discount:double,netTotal:double>>)"
                    ),
                ).alias("items")
            ).alias("details"),
        )
    )
    documents.write.mode("overwrite").parquet(f"{SRC_DIR}/documents.parquet")


def _tables_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def main() -> None:
    ap = argparse.ArgumentParser(
        prog="pipeline_bench.py",
        allow_abbrev=False,
        description=(
            "Time the end-to-end EtlPipeline (sync-all → incremental → "
            "idempotent re-sync) against dirty nested sources derived "
            "from the sf_dir tables; prints one JSON line."
        ),
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.1",
        help="source scale-factor directory (default: %(default)s)",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help=(
            "run warehouse.compact() on every table after the initial "
            "full sync, so the incremental/re-sync walls measure the "
            "maintained layout instead of the worst-case one-file-per-"
            "task layout (the ~2,400×60-row fecha_dia layout makes "
            "the uncompacted walls metadata-bound; this flag records "
            "the measured companion number)"
        ),
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    if not os.path.isdir(sf_dir):
        ap.error(f"no such sf_dir: {sf_dir}")

    from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
    from imperio_patitas_etl_spark.session import get_spark
    from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse

    spark = get_spark("pipeline_bench")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    build_sources(spark, sf_dir)
    t_setup = time.time() - t0

    shutil.rmtree(WH_DIR, ignore_errors=True)
    sources = {
        name: (lambda n=name: spark.read.parquet(f"{SRC_DIR}/{n}.parquet"))
        for name in ("clients", "products", "price_list", "costs", "documents")
    }
    pipe = EtlPipeline(
        spark=spark,
        warehouse=ParquetWarehouse(spark, WH_DIR, partitioned=True),
        sources=sources,
    )

    t0 = time.time()
    pipe.sync("all")
    t_sync_all = time.time() - t0

    tables = ("cliente", "producto", "documento_venta", "detalle_documento")
    snap1 = {t: pipe.warehouse.read(t).localCheckpoint() for t in tables}
    counts = {t: snap1[t].count() for t in tables}

    t_compact = None
    compact_files = None
    if args.compact:
        t0 = time.time()
        compact_files = {
            t: pipe.warehouse.compact(t) for t in tables
        }
        t_compact = time.time() - t0

    t0 = time.time()
    pipe.incremental(days=INCR_DAYS, as_of=INCR_AS_OF)
    t_incremental = time.time() - t0

    t0 = time.time()
    pipe.sync("all")
    t_resync_all = time.time() - t0

    idempotent = all(
        _tables_equal(snap1[t], pipe.warehouse.read(t)) for t in tables
    )
    rep = {
        r["entity"]: [r["valid"], r["invalid"]]
        for r in pipe.report().collect()[:4]
    }
    out = {
        "sf_dir": sf_dir,
        "t_setup": round(t_setup, 1),
        "t_sync_all": round(t_sync_all, 1),
        "t_incremental": round(t_incremental, 1),
        "t_resync_all": round(t_resync_all, 1),
        "idempotent": idempotent,
        "rows": counts,
        "first_run_report": rep,
    }
    if args.compact:
        out["t_compact"] = round(t_compact, 1)
        out["compact_files"] = {
            t: list(fb) for t, fb in compact_files.items()
        }
    print(json.dumps(out))
    assert idempotent, "re-sync changed warehouse state"
    spark.stop()


if __name__ == "__main__":
    main()
