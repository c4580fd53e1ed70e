"""Core relational queries (SURVEY.md §2.1, §2.4, §2.5, §2.7).

Conventions for oracle parity:
- every computed column aliased identically in Spark and SQL;
- money aggregates rounded to 2 decimals on both sides (double roundoff is
  below rounding granularity — SURVEY.md §7 hard-part 2);
- running/windowed sums computed in integer cents (exact, no float drift);
- all orderings made deterministic with explicit tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imperio_patitas_etl_spark.functions.cleaning import (
    avg2_exact,
    epoch_us,
    round2_exact,
    sql_avg2_exact,
    sql_round2_exact,
    sql_sum2_exact,
    sum2_exact,
)
from imperio_patitas_etl_spark.operators.dedup import dedup_first_wins, top_k_per_group
from imperio_patitas_etl_spark.operators.joins import (
    broadcast_lookup,
    explode_nested,
    fk_orphan_report,
)
from imperio_patitas_etl_spark.operators.prefix_sum import (
    partitioned_prefix_sum,
)
from imperio_patitas_etl_spark.operators.upsert import delete_insert, upsert_latest_wins
from imperio_patitas_etl_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# S1/S4 scans
# --------------------------------------------------------------------------

def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: columnar scan with pushed-down filter + pruned columns
    (bsale_client.py:35-65 becomes a parquet scan; the filter and the
    2-column ReadSchema reach the reader — verified via .explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )


def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: limited sample scan (scheduler_endpoints.py:149-165) — made
    deterministic with an explicit order."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").limit(10).select("o_orderkey", "o_totalprice")


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 sorts: global top-N — Spark runs TakeOrderedAndProject, no full
    sort at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# A1-A6 aggregates
# --------------------------------------------------------------------------

def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: COUNT(*) monitoring query (README.md:195-199)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


def q_count_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: valid/invalid-style counters as groupBy-count
    (etl_service.py:522-533)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("valid", (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .groupBy("valid")
        .agg(F.count("*").alias("n"))
    )


def q_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-group average (server-side averageCost analog,
    etl_service.py:601)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        avg2_exact(F.sum("l_extendedprice"), F.count("*")).alias("avg_price"),
        F.count("*").alias("n"),
    )


def q_exists_any_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: EXISTS/any-over-group (``any(h.cost>0)``, etl_service.py:604-607)
    via map-side-combinable max(case)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.max(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("has_big_discount"))
        .groupBy("has_big_discount")
        .agg(F.count("*").alias("n_orders"))
    )


def q_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: first-wins dedup by key under explicit order
    (processed_variants set, etl_service.py:568-582)."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup_first_wins(
        li, "l_partkey", [F.col("l_orderkey"), F.col("l_linenumber")]
    ).select("l_partkey", "l_orderkey", "l_linenumber")


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: first-match-per-group (break-on-success loop at
    etl_service.py:578-633) as a rank-1 window."""
    li = load_table(spark, sf_dir, "lineitem")
    return top_k_per_group(
        li,
        "l_orderkey",
        [F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        k=1,
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 free-from-Spark: ROLLUP aggregation (declared in SURVEY.md §7
    extended surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# J1-J8 joins
# --------------------------------------------------------------------------

def q_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: build product→variants-style nested rows (array<struct>) then
    lateral-unnest them back (etl_service.py:570-578). Inner explode: empty
    arrays drop their parent. Round-trips to flat lineitem → SQL oracle is
    the flat selection."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "l_partkey", "l_quantity"))
        ).alias("items")
    )
    exploded = explode_nested(nested, "items", "item", keep_empty=False)
    return exploded.select(
        "l_orderkey",
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.col("item.l_partkey").alias("l_partkey"),
        F.col("item.l_quantity").alias("l_quantity"),
    )


def q_explode_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: outer explode — parents with zero children survive with NULL
    child (document headers kept at etl_service.py:687-694). Orders with no
    lineitem (none in TPC-H data, but semantics hold) keep a NULL line."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = o.select("o_orderkey").join(
        li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_extendedprice"))).alias(
                "items"
            )
        ),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left",
    )
    exploded = explode_nested(nested, "items", "item", keep_empty=True)
    return exploded.select(
        "o_orderkey",
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.round(F.col("item.l_extendedprice"), 2).alias("l_extendedprice"),
    )


def q_join_price_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the per-variant price lookup (etl_service.py:589-597) as a
    broadcast inner equi-join — no shuffle of the fact side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = broadcast_lookup(li, part.select("p_partkey", "p_retailprice"),
                              F.col("l_partkey") == F.col("p_partkey"), "inner")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("p_retailprice") * F.col("l_quantity")), 2).alias("retail_value"),
    )


def q_join_cost_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left join to an aggregated cost table (etl_service.py:600-602):
    customers keep NULL aggregates when they have no orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        avg2_exact(F.sum("o_totalprice"), F.count("*")).alias("avg_order_value")
    )
    return (
        c.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select("c_custkey", "avg_order_value")
    )


def q_derived_cost_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+A1: conditional cost derivation (etl_service.py:604-616) mapped to
    parts: if the part has any lineitem sale → avg sale price; else
    retailprice × 0.65; both rounded."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy("l_partkey").agg(
        avg2_exact(F.sum("l_extendedprice"), F.count("*")).alias("avg_sale"),
    )
    return (
        p.join(hist, F.col("p_partkey") == F.col("l_partkey"), "left")
        .select(
            "p_partkey",
            F.when(F.col("avg_sale").isNotNull(), F.col("avg_sale"))
            .otherwise(round2_exact(F.col("p_retailprice") * 0.65, 4))
            .alias("costo_neto"),
        )
    )


def q_semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: key-membership as semi/anti join (``WHERE key IN``,
    etl_service.py:301-311). Counts customers with vs without orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = c.join(o, "c_custkey", "left_semi").agg(
        F.count("*").alias("n")
    ).withColumn("membership", F.lit("with_orders"))
    without = c.join(o, "c_custkey", "left_anti").agg(
        F.count("*").alias("n")
    ).withColumn("membership", F.lit("without_orders"))
    return with_orders.unionByName(without).select("membership", "n")


def q_fk_orphans_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: dangling-FK data-quality report (FK checks skipped in the
    reference, etl_service.py:667-670). Parent artificially restricted so
    orphans exist deterministically."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 != 0)
    orphans = fk_orphan_report(
        li.select(F.col("l_partkey"), "l_orderkey"), part, "l_partkey", "p_partkey"
    )
    return orphans.agg(F.count("*").alias("n_orphans"))


def q_multi_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse star join (README.md:50-55 FK design): fact lineitem →
    orders → customer → nation → region with revenue aggregate. Dimension
    chain broadcasts; only the fact side shuffles for the final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            sum2_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# J6/J7/K2/K3 upserts
# --------------------------------------------------------------------------

def _upsert_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic target/source split of orders: target = even keys,
    source = keys % 3 == 0 with bumped totalprice (overlap = keys % 6 == 0)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    # +1.0 keeps the value an exact 2-decimal (×1.1 would create half-cent
    # rounding ties where Spark and SQL engines disagree).
    source = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    return target, source


def q_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/K2: MERGE-on-key upsert as latest-wins dedup
    (etl_service.py:252-293,328-503)."""
    target, source = _upsert_frames(spark, sf_dir)
    out = upsert_latest_wins(target, source, "o_orderkey")
    return out.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))


def q_delete_insert_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: DELETE+INSERT fallback (etl_service.py:296-325) as anti-join +
    union — same end state as MERGE with full-row sources."""
    target, source = _upsert_frames(spark, sf_dir)
    out = delete_insert(target, source, "o_orderkey")
    return out.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 end-to-end: the real warehouse MERGE path — ensure-table DDL,
    keyed upsert with column-subset update semantics (UPDATE_COLS,
    etl_service.py:452-457), atomic swap — writing actual parquet under a
    scratch dir, then reading the merged table back. The read-back end
    state IS SQL-expressible: latest-wins over target ∪ source restricted
    to the documento columns (both frames derive from the same orders
    projection, so the column-subset update degenerates to source-wins on
    the returned columns)."""
    import tempfile

    from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse

    target, source = _upsert_frames(spark, sf_dir)
    as_doc = lambda df: df.select(  # noqa: E731 — local column adapter
        F.col("o_orderkey").alias("id_documento"),
        F.col("o_custkey").alias("id_cliente"),
        F.lit(None).cast("long").alias("id_tipo_documento"),
        F.lit(None).cast("long").alias("folio"),
        F.lit(None).cast("timestamp").alias("fecha_emision"),
        F.round("o_totalprice", 2).alias("monto_neto"),
        F.lit(0.0).alias("monto_iva"),
        F.round("o_totalprice", 2).alias("monto_total"),
        F.lit(None).cast("timestamp").alias("fecha_creacion"),
    )
    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="wh_q_"))
    wh.overwrite("documento_venta", as_doc(target))
    wh.upsert("documento_venta", as_doc(source))
    return wh.read("documento_venta").select(
        "id_documento", "id_cliente", "monto_neto", "monto_total"
    )


def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (operators/joins.py:salted_join): facts
    spread over 8 salts, dim replicated — result must be identical to the
    plain equi-join, which is exactly what the oracle runs."""
    from imperio_patitas_etl_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_suppkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    out = salted_join(
        li, supp.withColumnRenamed("s_suppkey", "l_suppkey"), "l_suppkey", n_salts=8
    )
    return out.groupBy("s_nationkey").agg(
        F.count("*").alias("n"), F.sum("l_orderkey").alias("sum_ok")
    )


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (free Spark surface, SURVEY.md §2.5 tail):
    exact COUNT(DISTINCT) + SUM(DISTINCT) per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(F.col("l_quantity").cast("long")).alias("sum_qty_distinct"),
    )


def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the (n−1)·p interpolation formula, so
    on identical doubles the results are bit-equal (verified). Exact
    percentile buffers each group's values; at 100 TB swap in
    ``approx_percentile`` (t-digest, mergeable, bounded memory) — the
    query shape is unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


ORACLE_PERCENTILE = """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50_price,
           quantile_cont(l_extendedprice, 0.95) AS p95_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
"""


KMV_K = 64
_KMV_HASH = "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_KMV_SCALE = float((KMV_K - 1) * 2**60)  # exact double: 63·2^60


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per group —
    a real mergeable sketch, made fully deterministic by the md5-based
    60-bit hash so DuckDB replicates the estimate bit-for-bit (the
    engine-NATIVE HLLs aren't portable; ``hll_distinct_sketch`` below
    rebuilds HLL's register math explicitly to get the same
    determinism).

    Scale shape: the distinct step is a combinable shuffle dedup, and the
    bottom-k per group compiles to WindowGroupLimit — Spark keeps only k
    rows per group per partition BEFORE the shuffle, so sketch memory is
    O(k·groups), the same bound a custom UDAF would give. Estimator:
    (k−1) / normalized kth-minimum; exact count when a group has < k
    distinct values."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_returnflag", F.expr(_KMV_HASH).alias("h")).distinct()
    w = Window.partitionBy("l_returnflag").orderBy("h")
    mins = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KMV_K)
    g = mins.groupBy("l_returnflag").agg(
        F.count("*").alias("n_mins"), F.max("h").alias("kth_hash")
    )
    est = F.when(
        F.col("n_mins") < KMV_K, F.col("n_mins").cast("double")
    ).otherwise(F.lit(_KMV_SCALE) / F.col("kth_hash").cast("double"))
    return g.select(
        "l_returnflag", "n_mins", "kth_hash", F.round(est, 6).alias("est_distinct")
    )


ORACLE_KMV = f"""
    WITH d AS (
        SELECT DISTINCT l_returnflag,
               (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT) AS h
        FROM lineitem
    ), r AS (
        SELECT l_returnflag, h,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        FROM d
    ), m AS (
        SELECT l_returnflag, COUNT(*) AS n_mins, MAX(h) AS kth_hash
        FROM r WHERE rn <= {KMV_K} GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_mins, kth_hash,
           ROUND(CASE WHEN n_mins < {KMV_K} THEN n_mins::DOUBLE
                      ELSE {KMV_K - 1} * 1152921504606846976.0 / kth_hash::DOUBLE
                 END, 6) AS est_distinct
    FROM m
"""


HLL_M = 64  # registers (b = 6 index bits off the 60-bit md5 hash)
HLL_REST_BITS = 54  # 60 - 6 bits feed the leading-zero count
# α_64·m²·2^(rest+1): the raw-estimator numerator, precomputed in Python so
# both engines parse the identical double literal (repr round-trips).
_HLL_NUM = 0.709 * HLL_M * HLL_M * float(2 ** (HLL_REST_BITS + 1))


def q_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per group (Flajolet et al. 2007),
    register math spelled out so DuckDB replicates it bit-for-bit — the
    engine-native HLLs (Spark ``approx_count_distinct``, DuckDB
    ``approx_count_distinct``) have incompatible register layouts, so this
    is the portable twin the ``kmv_distinct_sketch`` docstring said was
    impossible to oracle-check; it isn't, once the registers are explicit:
    the low 6 hash bits pick one of m=64 registers, ρ = leading zeros + 1
    of the remaining 54 bits (via ``length(bin(rest))`` — identical string
    semantics in both engines), and Z is accumulated EXACTLY as the
    integer Σ 2^(55−M_j) (absent registers contribute 2^55), so the only
    float op is one final double division of exact integers.

    Publishes the RAW estimator plus ``n_zero_regs`` (the input to the
    small-range linear-counting correction — left to the consumer because
    ln(m/V) is libm-dependent) and the exact count + signed basis-point
    error, following the ``cosine_dedup_recall`` audit convention:
    measure the sketch's error, don't hide it.

    Scale shape: register build is a map-side-combinable groupBy bounded
    by m·groups (64·groups rows TOTAL regardless of corpus size — this is
    the sketch the 100 TB path actually ships, vs KMV's k rows); the
    exact count is the audit side only."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select("l_returnflag", F.expr(_KMV_HASH).alias("h"))
    rho = h.select(
        "l_returnflag",
        F.expr(f"h % {HLL_M}").alias("reg"),
        F.expr(
            f"CASE WHEN h div {HLL_M} = 0 THEN {HLL_REST_BITS + 1} "
            f"ELSE {HLL_REST_BITS + 1} - length(bin(h div {HLL_M})) END"
        ).alias("rho"),
    )
    regs = rho.groupBy("l_returnflag", "reg").agg(F.max("rho").alias("maxrho"))
    z = regs.groupBy("l_returnflag").agg(
        F.count("*").alias("n_hit"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_REST_BITS + 1} - maxrho AS INT))")
        ).alias("z_hit"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    empty_w = F.lit(2 ** (HLL_REST_BITS + 1)) * (F.lit(HLL_M) - F.col("n_hit"))
    zs = F.col("z_hit") + empty_w
    est = F.lit(_HLL_NUM) / zs.cast("double")
    return (
        z.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            (F.lit(HLL_M) - F.col("n_hit")).cast("long").alias("n_zero_regs"),
            zs.cast("long").alias("z_scaled"),
            F.round(est, 4).alias("hll_est"),
            "exact_distinct",
            F.round((est - F.col("exact_distinct")) / F.col("exact_distinct") * 10000)
            .cast("long")
            .alias("err_bp"),
        )
    )


ORACLE_HLL = f"""
    WITH hsh AS (
        SELECT l_returnflag,
               (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT) AS h
        FROM lineitem
    ), rho AS (
        SELECT l_returnflag, h % {HLL_M} AS reg,
               CASE WHEN h // {HLL_M} = 0 THEN {HLL_REST_BITS + 1}
                    ELSE {HLL_REST_BITS + 1} - length(bin(h // {HLL_M})) END AS rho
        FROM hsh
    ), regs AS (
        SELECT l_returnflag, reg, MAX(rho) AS maxrho
        FROM rho GROUP BY l_returnflag, reg
    ), z AS (
        SELECT l_returnflag, COUNT(*) AS n_hit,
               CAST(SUM(1::BIGINT << ({HLL_REST_BITS + 1} - maxrho)) AS BIGINT) AS z_hit
        FROM regs GROUP BY l_returnflag
    ), ex AS (
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST({HLL_M} - n_hit AS BIGINT) AS n_zero_regs,
           CAST(z_hit + {2 ** (HLL_REST_BITS + 1)} * ({HLL_M} - n_hit) AS BIGINT) AS z_scaled,
           ROUND({_HLL_NUM!r} / (z_hit + {2 ** (HLL_REST_BITS + 1)} * ({HLL_M} - n_hit))::DOUBLE, 4) AS hll_est,
           exact_distinct,
           CAST(ROUND(({_HLL_NUM!r} / (z_hit + {2 ** (HLL_REST_BITS + 1)} * ({HLL_M} - n_hit))::DOUBLE
                       - exact_distinct) / exact_distinct * 10000) AS BIGINT) AS err_bp
    FROM z JOIN ex USING (l_returnflag)
"""


def q_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the 100 TB distinct-count sketch,
    PROVEN as a query instead of claimed in prose: per-month partial
    sketches merged by element-wise register max are IDENTICAL to the
    sketch built over the whole table in one pass (max is associative
    and commutative, so partials from 1000 executors — or 1000 days of
    incremental ingest — reduce to the same registers in any order).
    Both sketch builds, their Z values, their estimates, and the
    equality verdict are published per group; the driver's value-hash
    then certifies ``merged_equals_direct = true`` on every row, making
    mergeability a regression-tested invariant rather than a docstring.

    Scale shape: the partial build is the per-(group, month) register
    groupBy a real warehouse would store as its incremental sketch
    table (m rows per group per day); the merge is a second combinable
    max-groupBy over register rows — no rescan of the data."""
    li = load_table(spark, sf_dir, "lineitem")
    rho = li.select(
        "l_returnflag",
        F.expr("substring(CAST(l_shipdate AS STRING), 1, 7)").alias("month"),
        F.expr(f"{_KMV_HASH} % {HLL_M}").alias("reg"),
        F.expr(
            f"CASE WHEN {_KMV_HASH} div {HLL_M} = 0 THEN {HLL_REST_BITS + 1} "
            f"ELSE {HLL_REST_BITS + 1} - length(bin({_KMV_HASH} div {HLL_M})) END"
        ).alias("rho"),
    )
    partial = rho.groupBy("l_returnflag", "month", "reg").agg(
        F.max("rho").alias("maxrho")
    )
    merged = partial.groupBy("l_returnflag", "reg").agg(
        F.max("maxrho").alias("maxrho")
    )
    direct = rho.groupBy("l_returnflag", "reg").agg(F.max("rho").alias("maxrho"))

    def z_of(regs: DataFrame, prefix: str) -> DataFrame:
        z = regs.groupBy("l_returnflag").agg(
            F.count("*").alias(f"n_regs_{prefix}"),
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_REST_BITS + 1} - maxrho AS INT))"
                )
            ).alias("zh"),
        )
        zs = F.col("zh") + F.lit(2 ** (HLL_REST_BITS + 1)) * (
            F.lit(HLL_M) - F.col(f"n_regs_{prefix}")
        )
        return z.select(
            "l_returnflag",
            f"n_regs_{prefix}",
            zs.cast("long").alias(f"z_{prefix}"),
            F.round(F.lit(_HLL_NUM) / zs.cast("double"), 4).alias(f"est_{prefix}"),
        )
    return (
        z_of(merged, "merged")
        .join(z_of(direct, "direct"), "l_returnflag")
        .select(
            "l_returnflag",
            "n_regs_merged",
            "n_regs_direct",
            "z_merged",
            "z_direct",
            "est_merged",
            "est_direct",
            (
                (F.col("z_merged") == F.col("z_direct"))
                & (F.col("n_regs_merged") == F.col("n_regs_direct"))
            ).alias("merged_equals_direct"),
        )
    )


_HLL_RHO_SQL = f"""
        SELECT l_returnflag, substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS month,
               h % {HLL_M} AS reg,
               CASE WHEN h // {HLL_M} = 0 THEN {HLL_REST_BITS + 1}
                    ELSE {HLL_REST_BITS + 1} - length(bin(h // {HLL_M})) END AS rho
        FROM (SELECT l_returnflag, l_shipdate,
                     (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT) AS h
              FROM lineitem)
"""

ORACLE_HLL_MERGE_AUDIT = f"""
    WITH rho AS ({_HLL_RHO_SQL}),
    partial AS (
        SELECT l_returnflag, month, reg, MAX(rho) AS maxrho
        FROM rho GROUP BY l_returnflag, month, reg
    ), merged AS (
        SELECT l_returnflag, reg, MAX(maxrho) AS maxrho
        FROM partial GROUP BY l_returnflag, reg
    ), direct AS (
        SELECT l_returnflag, reg, MAX(rho) AS maxrho
        FROM rho GROUP BY l_returnflag, reg
    ), zm AS (
        SELECT l_returnflag, COUNT(*) AS n_regs_merged,
               CAST(SUM(1::BIGINT << ({HLL_REST_BITS + 1} - maxrho))
                    + {2 ** (HLL_REST_BITS + 1)} * ({HLL_M} - COUNT(*)) AS BIGINT)
                   AS z_merged
        FROM merged GROUP BY l_returnflag
    ), zd AS (
        SELECT l_returnflag, COUNT(*) AS n_regs_direct,
               CAST(SUM(1::BIGINT << ({HLL_REST_BITS + 1} - maxrho))
                    + {2 ** (HLL_REST_BITS + 1)} * ({HLL_M} - COUNT(*)) AS BIGINT)
                   AS z_direct
        FROM direct GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_regs_merged, n_regs_direct, z_merged, z_direct,
           ROUND({_HLL_NUM!r} / z_merged::DOUBLE, 4) AS est_merged,
           ROUND({_HLL_NUM!r} / z_direct::DOUBLE, 4) AS est_direct,
           (z_merged = z_direct AND n_regs_merged = n_regs_direct)
               AS merged_equals_direct
    FROM zm JOIN zd USING (l_returnflag)
"""


KMV_JC_K = 256


def q_kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from merged KMV sketches — the
    query-optimizer primitive (Beyer et al., SIGMOD 2007): to size
    A ⋈ B on a key at 100 TB you never count |A ∩ B| exactly; you merge
    the two sides' bottom-k sketches. The k smallest hashes of A ∪ B
    estimate the union cardinality ((k−1)/kth-min, as
    ``kmv_distinct_sketch``), and the fraction of those k that belong
    to BOTH sides estimates the Jaccard similarity, so
    |A∩B| ≈ (n_both/k) · est(|A∪B|). Sides here: parts with returned
    line items vs parts with size ≤ 25.

    Exactness: the shared md5→int60 hash makes both sketches
    deterministic; the estimate is one fixed-tree double expression
    over exact integers. The exact intersection rides along as the
    audit column with the signed bp error, per the
    ``cosine_dedup_recall`` convention. When the union has < k distinct
    keys the sketch degenerates to exact counting (CASE on n_mins).

    Scale shape: each side is a combinable distinct; the flagged union
    is a full-outer join on the key; the bottom-k compiles to
    TakeOrderedAndProject (k-row heaps per partition, one k-row driver
    merge) — sketch traffic is k rows regardless of data size. The
    audit-side exact count is the only data-sized join, and it drops
    out in production use."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    a = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_partkey").alias("key"))
        .distinct()
        .withColumn("in_a", F.lit(True))
    )
    b = (
        p.filter(F.col("p_size") <= 25)
        .select(F.col("p_partkey").alias("key"))
        .distinct()
        .withColumn("in_b", F.lit(True))
    )
    u = (
        a.join(b, "key", "full_outer")
        .select(
            F.expr(
                _KMV_HASH.replace("l_partkey", "key")
            ).alias("h"),
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
        )
    )
    mins = u.orderBy("h").limit(KMV_JC_K)
    g = mins.agg(
        F.count("*").alias("n_mins"),
        F.max("h").alias("kth_hash"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias(
            "n_both"
        ),
    )
    exact = (
        a.join(b, "key", "inner").agg(F.count("*").alias("exact_inter"))
    )
    est_union = F.lit(float((KMV_JC_K - 1) * 2**60)) / F.col("kth_hash").cast(
        "double"
    )
    est_inter = F.when(
        F.col("n_mins") < KMV_JC_K, F.col("n_both").cast("double")
    ).otherwise(
        (F.col("n_both").cast("double") / KMV_JC_K) * est_union
    )
    return g.crossJoin(F.broadcast(exact)).select(
        "n_mins",
        "kth_hash",
        "n_both",
        F.round(est_inter, 4).alias("est_inter"),
        "exact_inter",
        F.round((est_inter - F.col("exact_inter")) / F.col("exact_inter") * 10000)
        .cast("long")
        .alias("err_bp"),
    )


_KMV_JC_HASH_SQL = "(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15))::BIGINT)"

ORACLE_KMV_JOIN_CARD = f"""
    WITH a AS (
        SELECT DISTINCT l_partkey AS key FROM lineitem WHERE l_returnflag = 'R'
    ), b AS (
        SELECT DISTINCT p_partkey AS key FROM part WHERE p_size <= 25
    ), u AS (
        SELECT {_KMV_JC_HASH_SQL} AS h,
               (akey IS NOT NULL) AS in_a, (bkey IS NOT NULL) AS in_b
        FROM (SELECT key, key AS akey FROM a) a
        FULL OUTER JOIN (SELECT key, key AS bkey FROM b) b USING (key)
    ), mins AS (
        SELECT * FROM u ORDER BY h LIMIT {KMV_JC_K}
    ), g AS (
        SELECT COUNT(*) AS n_mins, MAX(h) AS kth_hash,
               CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both
        FROM mins
    ), ex AS (
        SELECT COUNT(*) AS exact_inter FROM a JOIN b USING (key)
    )
    SELECT n_mins, kth_hash, n_both,
           ROUND(CASE WHEN n_mins < {KMV_JC_K} THEN CAST(n_both AS DOUBLE)
                      ELSE (CAST(n_both AS DOUBLE) / {KMV_JC_K})
                           * ({float((KMV_JC_K - 1) * 2**60)!r} / CAST(kth_hash AS DOUBLE))
                 END, 4) AS est_inter,
           exact_inter,
           CAST(ROUND((CASE WHEN n_mins < {KMV_JC_K} THEN CAST(n_both AS DOUBLE)
                            ELSE (CAST(n_both AS DOUBLE) / {KMV_JC_K})
                                 * ({float((KMV_JC_K - 1) * 2**60)!r} / CAST(kth_hash AS DOUBLE))
                       END - exact_inter) / exact_inter * 10000) AS BIGINT) AS err_bp
    FROM g CROSS JOIN ex
"""


# --------------------------------------------------------------------------
# §2.7 set ops / windows / incremental
# --------------------------------------------------------------------------

def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (free from Spark, declared in SURVEY.md §2.7): customers who
    ordered in priority '1-URGENT' but never '5-LOW'."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.distinct().subtract(low.distinct())


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (§2.7): per-customer running order value in integer
    cents — exact arithmetic, no float drift in the running sum."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w).alias("running_cents"),
    )


def q_window_lag_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth (§2.7): lag/lead navigation and
    rank/dense_rank per customer in one pass — one shuffle on the
    partition key serves all four functions (same window frame family)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    byval = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag(cents, 1).over(seq).alias("prev_cents"),
        F.lead(cents, 1).over(seq).alias("next_cents"),
        F.rank().over(byval).cast("long").alias("value_rank"),
        F.dense_rank().over(byval).cast("long").alias("value_dense_rank"),
    )


def q_window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling aggregate per user over event time — a
    RANGE frame on epoch seconds (both engines treat the bounds as
    inclusive [t−3600, t]), the time-series rollup shape. Value summed in
    exact integer cents; one shuffle on the partition key."""
    e = load_table(spark, sf_dir, "events")
    epoch_s = epoch_us("ts") / F.lit(1_000_000)
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("epoch_s"))
        .rangeBetween(-3600, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            epoch_s.cast("long").alias("epoch_s"),
            cents.alias("cents"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("cents").over(w).alias("rolling_cents"),
            F.count("*").over(w).alias("rolling_n"),
        )
    )


ORACLE_RANGE_ROLLING = """
    SELECT user_id, event_id,
           CAST(SUM(cents) OVER w AS BIGINT) AS rolling_cents,
           COUNT(*) OVER w AS rolling_n
    FROM (
        SELECT user_id, event_id,
               CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_s,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 + incremental semantics: trailing-window predicate
    (scheduler_endpoints.py:82,197) against a FIXED anchor date so the
    result is reproducible (no current_date in oracle-checked queries)."""
    e = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-25").cast("date")  # events span 2024-01-01..-30
    return (
        e.filter(F.col("ts") >= F.date_sub(anchor, 7).cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming §2.7: tumbling 1-hour event-time window aggregation;
    F.window assigns the same windows in batch and streaming mode."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QSK_K = 1024
QSK_PS = (1, 25, 50, 75, 99)
#: per-row hash over the lineitem primary key — the deterministic
#: "random" ordering that makes the bottom-k rows a uniform sample.
_QSK_HASH = (
    "CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), '_', "
    "CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT)"
)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles of l_extendedprice via a DETERMINISTIC
    bottom-k-by-hash uniform sample — the data-profiling sketch a 100 TB
    pipeline runs where an exact global sort is off the table.

    Hashing each row's primary key and keeping the k smallest hashes is
    a uniform sample without replacement, but unlike rand()-based
    sampling it is reproducible across runs/retries/partitionings and
    replicable in the oracle — so this sketch is hash-checkable where
    t-digest/GK internals are not. The bottom-k compiles to
    TakeOrderedAndProject (each partition keeps k rows, the driver
    merges k-row heaps — same bound a mergeable sketch UDAF gives);
    quantile ranks over the k-row sample use ceiling integer arithmetic
    on exact cent values, so both engines pick the identical element."""
    li = load_table(spark, sf_dir, "lineitem")
    # the sample is referenced twice (rank window + count) and Catalyst
    # does not CSE across references — un-materialized, the bottom-k
    # TakeOrderedAndProject re-ran the full table scan per reference
    # (2 scans, plans/r19/quantile_sketch_before.txt). Bounded at QSK_K
    # rows, so checkpoint it (guide §3.3; r19).
    sample = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.expr(_QSK_HASH).alias("h"),
        )
        .orderBy("h")
        .limit(QSK_K)
        .localCheckpoint()
    )
    w = Window.orderBy("cents", "h")
    ranked = sample.select(
        "cents", "h", F.row_number().over(w).alias("r")
    )
    n = sample.agg(F.count("*").alias("n"))
    ps = F.explode(F.array(*[F.lit(p) for p in QSK_PS])).alias("p")
    targets = n.select(ps, "n").select(
        F.col("p").cast("long").alias("p"),
        F.greatest(
            F.lit(1), ((F.col("n") * F.col("p") + 99) / 100).cast("long")
        ).alias("idx"),
    )
    return (
        targets.join(F.broadcast(ranked), targets.idx == ranked.r)
        .select("p", (F.col("cents") / F.lit(100.0)).alias("value"))
        .orderBy("p")
    )


ORACLE_QUANTILE_SKETCH = f"""
    WITH sample AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
                                    CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT) AS h
        FROM lineitem
        ORDER BY h LIMIT {QSK_K}
    ), ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, h) AS r FROM sample
    ), n AS (
        SELECT COUNT(*) AS n FROM sample
    ), targets AS (
        SELECT CAST(p AS BIGINT) AS p,
               GREATEST(1, (n.n * p + 99) // 100) AS idx
        FROM (SELECT unnest([{", ".join(map(str, QSK_PS))}]) AS p), n
    )
    SELECT p, cents / 100.0 AS value
    FROM targets JOIN ranked ON targets.idx = ranked.r
    ORDER BY p
"""


# --------------------------------------------------------------------------
# §2.7 extensions (r7): pivot / unpivot / fixed-width histogram
# --------------------------------------------------------------------------

PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot events long→wide: one row per day, one exact-cents sum
    column per event type. The pivot values are DECLARED (not
    discovered), and the pivot is compiled as conditional aggregation
    rather than ``DataFrame.pivot`` — Spark's pivotfirst path costs a
    second shuffle ((day, type) partials, then day), while 5 conditional
    sums are a SINGLE map-side-combinable hash aggregate with one
    shuffle on the day key and no distinct-values job."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.select(F.to_date("ts").alias("day"), "event_type", cents.alias("cents"))
        .groupBy("day")
        .agg(
            *[
                F.sum(F.when(F.col("event_type") == t, F.col("cents"))).alias(
                    f"{t}_cents"
                )
                for t in PIVOT_EVENT_TYPES
            ]
        )
    )


ORACLE_PIVOT_WIDE = f"""
    SELECT CAST(ts AS DATE) AS day,
           {", ".join(
               f"CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) "
               f"FILTER (event_type = '{t}') AS BIGINT) AS {t}_cents"
               for t in PIVOT_EVENT_TYPES
           )}
    FROM events GROUP BY 1
"""


UNPIVOT_METRICS = ("quantity", "extendedprice", "discount", "tax")


def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot lineitem wide→long (4 measure columns become (metric,
    value) pairs, in exact cents) and aggregate per (returnflag, metric).
    Spark's Expand operator emits the 4 rows per input row BEFORE the
    aggregate's map-side combine, so the shuffle carries only
    flag×metric partials — unpivoting never materializes a 4× copy of
    the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = {
        m: F.round(F.col(f"l_{m}") * 100).cast("long").alias(m)
        for m in UNPIVOT_METRICS
    }
    return (
        li.select("l_returnflag", *cents.values())
        .unpivot(["l_returnflag"], list(UNPIVOT_METRICS), "metric", "cents")
        .groupBy("l_returnflag", "metric")
        .agg(F.sum("cents").alias("sum_cents"))
    )


ORACLE_UNPIVOT_LONG = "\nUNION ALL\n".join(
    f"""
    SELECT l_returnflag, '{m}' AS metric,
           CAST(SUM(CAST(ROUND(l_{m} * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM lineitem GROUP BY l_returnflag
    """
    for m in UNPIVOT_METRICS
)


HIST_BUCKET_WIDTH = 50_000


def q_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket = floor(total /
    width), with count and exact-cents sum per bucket — the distribution
    profile every ingest pipeline computes. One map-side-combinable
    aggregate to ~10 rows; at 100 TB the shuffle carries only the bucket
    partials, never rows."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / HIST_BUCKET_WIDTH).cast("long")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select(bucket.alias("bucket"), cents.alias("cents"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


ORACLE_HISTOGRAM_FIXED = f"""
    SELECT CAST(floor(o_totalprice / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders GROUP BY 1
"""


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL text surface: the engine's tables registered as temp
    views and queried with ``spark.sql`` — proving a user can drive this
    engine with plain SQL strings, not only the DataFrame API (the
    reference exposes raw SQL execution too, etl_service.py's BigQuery
    query paths). The query itself is a 3-table join + exact-cents
    rollup; Catalyst compiles the text to the identical plan the
    DataFrame form would get (one fact shuffle, dims broadcast).

    Views are namespaced ``sg_*`` and re-registered per call (temp views
    are session-scoped state; namespacing keeps the registration from
    colliding with a caller's own views)."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sg_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM sg_orders o
        JOIN sg_customer c ON o.o_custkey = c.c_custkey
        JOIN sg_nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
        """
    )


ORACLE_SQL_INTERFACE = """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
"""


# --------------------------------------------------------------------------
# equi_depth_histogram — exact equal-frequency buckets without a global sort
# --------------------------------------------------------------------------

EQUI_DEPTH_BUCKETS = 16


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {EQUI_DEPTH_BUCKETS}-bucket equi-depth histogram of order
    totals (the complement of ``histogram_fixed``'s equal-width buckets,
    and the exact twin of ``quantile_sketch``'s approximation): bucket
    boundaries fall so every bucket holds the same row count ±1, with
    per-bucket [lo, hi] cents and count.

    Bucket assignment needs each row's EXACT global rank in
    (cents, o_orderkey) order. A ``Window.orderBy(...)`` row_number is a
    single-task global sort — the canonical Spark scale trap — so ranks
    come from ``operators/prefix_sum.py:partitioned_prefix_sum`` instead:
    range-partition by the sort key, two-phase scan with value 1, and
    the inclusive prefix count IS the rank, computed partition-parallel.
    Bucket = (rank−1)·B div N (the even-spread rule, stated explicitly
    on both engines — SQL's NTILE puts all remainder rows in the FIRST
    buckets, a different and no more canonical convention).

    The (cents, orderkey) key is unique, so ranks — and therefore the
    histogram — are fully deterministic."""
    o = load_table(spark, sf_dir, "orders").select(
        F.lit(0).alias("all"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
        F.lit(1).alias("one"),
    )
    ranked = partitioned_prefix_sum(
        o, "all", ["cents", "o_orderkey"], "one", "rank"
    )
    # total row count from the INPUT relation (max rank = N by
    # construction): reading it from `ranked` re-ran the whole Arrow
    # prefix pass a second time per call (guide §4.1 — one Python pass)
    n_total = o.agg(F.count("*").alias("n_total"))
    b = EQUI_DEPTH_BUCKETS
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            "cents",
            F.expr(f"(({b} * (rank - 1)) div n_total) + 1").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


ORACLE_EQUI_DEPTH = f"""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                            o_orderkey
               ) AS rank
        FROM orders
    )
    SELECT (({EQUI_DEPTH_BUCKETS} * (rank - 1))
            // (SELECT COUNT(*) FROM orders)) + 1 AS bucket,
           COUNT(*) AS n_rows,
           MIN(cents) AS lo_cents,
           MAX(cents) AS hi_cents
    FROM ranked
    GROUP BY bucket
"""


QUERIES = {
    "scan_parquet": q_scan_parquet,
    "limit": q_limit,
    "sort_limit": q_sort_limit,
    "count_star": q_count_star,
    "count_by_flag": q_count_by_flag,
    "groupby_avg": q_groupby_avg,
    "exists_any_agg": q_exists_any_agg,
    "dedup_first": q_dedup_first,
    "topk_per_group": q_topk_per_group,
    "cube_rollup": q_cube_rollup,
    "explode_variants": q_explode_variants,
    "explode_details": q_explode_details,
    "join_price_broadcast": q_join_price_broadcast,
    "join_cost_left": q_join_cost_left,
    "derived_cost_coalesce": q_derived_cost_coalesce,
    "semi_anti_membership": q_semi_anti_membership,
    "fk_orphans_antijoin": q_fk_orphans_antijoin,
    "multi_join_star": q_multi_join_star,
    "upsert_latest_wins": q_upsert_latest_wins,
    "delete_insert_antijoin": q_delete_insert_antijoin,
    "upsert_merge": q_upsert_merge,
    "distinct_agg": q_distinct_agg,
    "percentile_agg": q_percentile_agg,
    "kmv_distinct_sketch": q_kmv_distinct_sketch,
    "hll_distinct_sketch": q_hll_distinct_sketch,
    "kmv_join_cardinality": q_kmv_join_cardinality,
    "hll_merge_audit": q_hll_merge_audit,
    "quantile_sketch": q_quantile_sketch,
    "salted_join_skew": q_salted_join_skew,
    "union_except": q_union_except,
    "window_running_sum": q_window_running_sum,
    "window_lag_rank": q_window_lag_rank,
    "window_range_rolling": q_window_range_rolling,
    "date_window": q_date_window,
    "stream_tumbling_window": q_stream_tumbling_window,
    "pivot_wide": q_pivot_wide,
    "unpivot_long": q_unpivot_long,
    "histogram_fixed": q_histogram_fixed,
    "equi_depth_histogram": q_equi_depth_histogram,
    "sql_interface": q_sql_interface,
}

ORACLE = {
    "scan_parquet": """
        SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45
    """,
    "limit": """
        SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10
    """,
    "sort_limit": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    "count_star": "SELECT COUNT(*) AS n_rows FROM lineitem",
    "count_by_flag": """
        SELECT (l_quantity > 0 AND l_extendedprice > 0) AS valid, COUNT(*) AS n
        FROM lineitem GROUP BY 1
    """,
    "groupby_avg": f"""
        SELECT l_returnflag,
               {sql_avg2_exact('SUM(l_extendedprice)', 'COUNT(*)')} AS avg_price,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    "exists_any_agg": """
        WITH per_order AS (
            SELECT l_orderkey,
                   MAX(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS has_big_discount
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT has_big_discount, COUNT(*) AS n_orders FROM per_order GROUP BY 1
    """,
    "dedup_first": """
        SELECT l_partkey, l_orderkey, l_linenumber FROM (
            SELECT l_partkey, l_orderkey, l_linenumber,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey
                                      ORDER BY l_orderkey, l_linenumber) AS rn
            FROM lineitem
        ) WHERE rn = 1
    """,
    "topk_per_group": """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice DESC, l_linenumber) AS rn
            FROM lineitem
        ) WHERE rn = 1
    """,
    "cube_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "explode_variants": """
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
    """,
    "explode_details": """
        SELECT o_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS l_extendedprice
        FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    """,
    "join_price_broadcast": """
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(SUM(p_retailprice * l_quantity), 2) AS retail_value
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_returnflag
    """,
    "join_cost_left": f"""
        SELECT c_custkey, avg_order_value
        FROM customer LEFT JOIN (
            SELECT o_custkey,
                   {sql_avg2_exact('SUM(o_totalprice)', 'COUNT(*)')} AS avg_order_value
            FROM orders GROUP BY o_custkey
        ) ON c_custkey = o_custkey
    """,
    "derived_cost_coalesce": f"""
        SELECT p_partkey,
               COALESCE(avg_sale, {sql_round2_exact('p_retailprice * 0.65', 4)}) AS costo_neto
        FROM part LEFT JOIN (
            SELECT l_partkey,
                   {sql_avg2_exact('SUM(l_extendedprice)', 'COUNT(*)')} AS avg_sale
            FROM lineitem GROUP BY l_partkey
        ) ON p_partkey = l_partkey
    """,
    "semi_anti_membership": """
        SELECT 'with_orders' AS membership, COUNT(*) AS n FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'without_orders' AS membership, COUNT(*) AS n FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    "fk_orphans_antijoin": """
        SELECT COUNT(*) AS n_orphans FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 7 != 0)
    """,
    "multi_join_star": f"""
        SELECT r_name,
               {sql_sum2_exact('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "upsert_merge": """
        WITH target AS (
            SELECT o_orderkey AS id_documento, o_custkey AS id_cliente,
                   ROUND(o_totalprice, 2) AS monto_neto,
                   ROUND(o_totalprice, 2) AS monto_total
            FROM orders WHERE o_orderkey % 2 = 0
        ), source AS (
            SELECT o_orderkey AS id_documento, o_custkey AS id_cliente,
                   ROUND(o_totalprice + 1.0, 2) AS monto_neto,
                   ROUND(o_totalprice + 1.0, 2) AS monto_total
            FROM orders WHERE o_orderkey % 3 = 0
        ), unioned AS (
            SELECT *, 0 AS rnk FROM target
            UNION ALL
            SELECT *, 1 AS rnk FROM source
        )
        SELECT id_documento, id_cliente, monto_neto, monto_total FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id_documento
                                         ORDER BY rnk DESC) AS rn
            FROM unioned
        ) WHERE rn = 1
    """,
    "upsert_latest_wins": """
        WITH target AS (
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
        ), source AS (
            SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 3 = 0
        ), unioned AS (
            SELECT *, 0 AS rank FROM target
            UNION ALL
            SELECT *, 1 AS rank FROM source
        )
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY rank DESC) AS rn
            FROM unioned
        ) WHERE rn = 1
    """,
    "delete_insert_antijoin": """
        WITH target AS (
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
        ), source AS (
            SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice FROM (
            SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
            UNION ALL
            SELECT * FROM source
        )
    """,
    "union_except": """
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
    "salted_join_skew": """
        SELECT s.s_nationkey, COUNT(*) AS n,
               CAST(SUM(l.l_orderkey) AS BIGINT) AS sum_ok
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey
    """,
    "distinct_agg": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part,
               CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_distinct
        FROM lineitem GROUP BY l_returnflag
    """,
    "percentile_agg": ORACLE_PERCENTILE,
    "kmv_distinct_sketch": ORACLE_KMV,
    "hll_distinct_sketch": ORACLE_HLL,
    "kmv_join_cardinality": ORACLE_KMV_JOIN_CARD,
    "hll_merge_audit": ORACLE_HLL_MERGE_AUDIT,
    "quantile_sketch": ORACLE_QUANTILE_SKETCH,
    "window_range_rolling": ORACLE_RANGE_ROLLING,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS running_cents
        FROM orders
    """,
    "window_lag_rank": """
        SELECT o_custkey, o_orderkey,
               LAG(CAST(ROUND(o_totalprice * 100) AS BIGINT), 1) OVER seq AS prev_cents,
               LEAD(CAST(ROUND(o_totalprice * 100) AS BIGINT), 1) OVER seq AS next_cents,
               RANK() OVER byval AS value_rank,
               DENSE_RANK() OVER byval AS value_dense_rank
        FROM orders
        WINDOW seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               byval AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "date_window": """
        SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events
        WHERE ts >= CAST(DATE '2024-01-25' - INTERVAL 7 DAY AS TIMESTAMP)
        GROUP BY event_type
    """,
    "stream_tumbling_window": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "pivot_wide": ORACLE_PIVOT_WIDE,
    "unpivot_long": ORACLE_UNPIVOT_LONG,
    "histogram_fixed": ORACLE_HISTOGRAM_FIXED,
    "equi_depth_histogram": ORACLE_EQUI_DEPTH,
    "sql_interface": ORACLE_SQL_INTERFACE,
}
