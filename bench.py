"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec for the 10 slowest keys}, "sf": ..., "n_keys": ...,
"all_total": ..., "queries_full": "BENCH_out*.json"}. The FULL per-key
timing map is written to BENCH_out*.json (mode-suffixed); stdout stays
under 1.5 kB so the driver's stdout-tail capture always parses it (a
6 kB full map gets front-clipped).

Each query is executed to completion through a `noop`-format write: every
result column is fully computed and materialized executor-side, so Catalyst
cannot prune the measured operator the way a bare count() can (a count
collapses deterministic projections and whole Window operators into a
zero-column scan). A warmup run of the smallest query amortizes
JVM/codegen startup out of individual timings.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "multi_join_star",
    "groupby_avg",
    "topk_per_group",
    "dedup_first",
    "filter_project_detail",
    "join_price_broadcast",
    "upsert_latest_wins",
    "window_running_sum",
    "window_range_rolling",
    "explode_variants",
    "stream_tumbling_window",
    # large-scale pipeline extensions (documents/embeddings tables)
    "dedup_exact",
    "dedup_minhash_lsh",
    "ngram_jaccard_dedup",
    "simhash_near_dup",
    "dup_clusters",
    "dup_clusters_star",
    "minhash_incremental",
    "quality_gopher",
    "gopher_filter",
    "decontaminate_ngram",
    "unigram_logprob",
    "stratified_sample",
    "tf_vectorize",
    "tfidf_weights",
    "sessionize_events",
    "sessionize_sharded",
    "kmv_distinct_sketch",
    "token_count",
    "quality_score",
    "ann_topk_bruteforce",
    "ann_lsh_bucketed",
    "ann_ivf",
    "ann_ivf_trained",
    "ann_recall",
    "embedding_cosine_dedup",
    "embedding_dup_clusters",
    "quantile_sketch",
    "stream_session_window",
    "stream_interval_join",
    "json_extract",
    "multimodal_decode_stub",
    "multimodal_feature_extract",
    # custom join strategies (operators/joins.py)
    "asof_join",
    "range_join",
    "salted_join_skew",
    # scan/statistics + behavioral tier
    "resample_ffill",
    "incremental_agg_merge",
    "rolling_distinct_users",
    "triangle_count",
    "pps_systematic_sample",
    "pmi_collocations",
    "equi_depth_histogram",
    "feature_scale",
    "event_transition_matrix",
    "attribution_last_touch",
    "node_jaccard_linkpred",
    "dq_anomaly_mad",
    "session_path_trigrams",
    "stream_rolling_distinct",
    "group_quantiles_exact",
    "entity_resolution_blocked",
    "bom_rollup",
    "khop_reach",
    "scd2_time_weighted",
    # sketch/temporal/replication/LM tier
    "hll_distinct_sketch",
    "interval_concurrency",
    "cdc_apply",
    "table_checksum_blocks",
    "bigram_logprob",
    # sampling/estimation/trend tier
    "weighted_sample_aes",
    "kmv_join_cardinality",
    "group_linear_fit",
    # optimizer-diagnostics tier
    "key_skew_audit",
    "join_strategy_advisor",
    "group_corr",
    "funnel_time_bounded",
    # robust-stats/experimentation tier
    "trimmed_mean",
    "ab_test_summary",
    # exact linear-algebra + sketch-merge tier
    "power_iteration_pc",
    "hll_merge_audit",
    # rolling-robust-stats + experiment-health tier
    "rolling_median_daily",
    "srm_check",
    "cusum_changepoint",
    "dow_seasonal_residual",
    "lag_features",
    # multimodal plumbing completion
    "multimodal_frame_sample",
    "multimodal_resize_stub",
    # retrieval evaluation
    "ndcg_eval",
]


def main(argv: list[str] | None = None) -> None:
    # Modes, parsed via argparse so a typo'd --al is an error instead of
    # silently turning an intended full-registry sf1 sweep into a
    # headline-only one:
    #   (default)     sweep EVERY registry key at $SPARK_GRAFT_SF_DIR —
    #                 HEADLINE order first, the unbenched tier after — so
    #                 regressions in the trivial-tier keys are visible in
    #                 every sweep. `value` stays the HEADLINE subtotal
    #                 (the baseline-comparable metric); the full-registry
    #                 sum is reported separately as `all_total`.
    #   --headline    HEADLINE keys only.
    #   --keys a,b    the named registry keys only, in registry order;
    #                 with --repeats N this is the per-key min-of-N probe.
    #   --sf1 [dir]   standing scale gate: build the replicated sf1 tree
    #                 (tools/make_sf1.py) if absent, run HEADLINE there;
    #                 add --all to sweep the FULL registry at sf1 (the
    #                 per-key 10x-data ratio record).
    import argparse

    ap = argparse.ArgumentParser(
        prog="bench.py",
        allow_abbrev=False,
        description=(
            "Benchmark the registry queries; prints ONE JSON result line "
            "on stdout, full per-key map to BENCH_out*.json."
        ),
    )
    ap.add_argument(
        "sf1_dir",
        nargs="?",
        default=None,
        help="sf1 tree directory (only with --sf1; default /tmp/sf1)",
    )
    ap.add_argument(
        "--sf1",
        action="store_true",
        help="run at the replicated sf1 tree (built via tools/make_sf1.py "
        "if absent); headline keys unless --all",
    )
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--all",
        action="store_true",
        help="sweep the full registry (the default outside --sf1)",
    )
    mode.add_argument(
        "--headline",
        action="store_true",
        help="HEADLINE keys only",
    )
    mode.add_argument(
        "--keys",
        help="comma-separated registry keys to run (registry order); "
        "results go to BENCH_out_keys.json",
    )
    ap.add_argument(
        "--repeats",
        type=int,
        default=1,
        help="re-time each key N times (N-1 extra full sweep passes) and "
        "add per-key min/median to BENCH_out*.json; the default single "
        "pass and every existing output field are unchanged (minute-scale "
        "host noise makes single-shot sweeps unusable as A/B evidence)",
    )
    opts = ap.parse_args(argv)
    if opts.repeats < 1:
        ap.error("--repeats must be >= 1")
    if opts.sf1_dir is not None and not opts.sf1:
        ap.error("a directory argument requires --sf1")
    sf1_mode = opts.sf1
    run_all = (
        not opts.headline and opts.keys is None and (not sf1_mode or opts.all)
    )
    if opts.keys is not None:
        from imperio_patitas_etl_spark.queries import all_queries

        want = set(opts.keys.split(",")) - {""}
        if not want:
            ap.error("--keys given but empty: no keys to run")
        unknown = sorted(want - set(all_queries()))
        if unknown:
            ap.error(f"unknown registry keys: {' '.join(unknown)}")

    # Lossless driver capture: a result header can be lost to
    # stdout-tail truncation because JVM startup noise (Ivy, log4j
    # banner, SparkContext INFO lines before setLogLevel lands) shares
    # fd 1 with the result line. Park the real
    # stdout on a duplicate fd and point fd 1 at stderr for the WHOLE run
    # — the JVM inherits the redirected fd — then write the single JSON
    # result line to the saved fd at the end. stdout therefore carries
    # exactly one line no matter what any child process prints.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    if sf1_mode:
        sf_dir = opts.sf1_dir if opts.sf1_dir is not None else "/tmp/sf1"
        if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
            import subprocess

            # builder logs go to stderr — stdout must stay ONE JSON line
            subprocess.run(
                [sys.executable, os.path.join("tools", "make_sf1.py"), sf_dir],
                check=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                stdout=sys.stderr,
            )
        sf = 1.0
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        m = re.search(r"sf([\d.]+)", sf_dir)
        sf = float(m.group(1)) if m else -1.0

    from imperio_patitas_etl_spark.session import get_spark
    from imperio_patitas_etl_spark.queries import all_queries

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    if opts.keys is not None:
        keys = [k for k in qs if k in want]
    else:
        keys = [k for k in HEADLINE if k in qs]
    if run_all:
        keys += [k for k in qs if k not in keys]

    # warmup: JVM + codegen + parquet footer reads + Python worker pool
    qs["count_star"](spark, sf_dir).collect()
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).count()  # fork the full pyspark worker pool, outside any timed query
    # compile the two-phase prefix-scan plan family once — the real
    # `partitioned_prefix_sum` helper (range shuffle + sortWithinPartitions
    # + localCheckpoint + mapInPandas scan) AND both of its consumers'
    # downstream shapes (broadcast stratum-total join + integer-expr
    # filter = pps_systematic_sample; crossJoin(broadcast(spec)) + join
    # on (stratum, rank) = group_quantiles_exact / dq_anomaly_mad).
    # Warming only the range-shuffle stage leaves the consumer stages
    # cold, and their first-run codegen reads as a 2-3x phantom
    # regression on whichever of the two keys runs first in a sweep.
    from imperio_patitas_etl_spark.operators.prefix_sum import (
        partitioned_prefix_sum,
    )
    from pyspark.sql import functions as F

    tiny = spark.range(0, 64, 1, 8).select(
        (F.col("id") % 4).alias("s"), "id", F.lit(1).alias("w")
    )
    cum = partitioned_prefix_sum(tiny, "s", ["id"], "w", "cum", 8)
    # totals from the INPUT relation, mirroring the consumers
    # (pps/equi-depth/quantiles derive stratum totals without a second
    # Arrow pass over the scan output)
    tot = tiny.groupBy("s").agg(F.sum("w").alias("t"))
    cum.join(F.broadcast(tot), "s").filter(
        F.expr("(2*cum + t - 1) div (2*t) >= 1")
    ).count()
    spec = spark.range(1, 4).select(F.col("id").alias("q"))
    cum.join(
        F.broadcast(tot.crossJoin(F.broadcast(spec)).select(
            "s", F.expr("(t * q + 3) div 4").alias("cum")
        )),
        ["s", "cum"],
    ).count()
    # compile the higher-order-function family (transform/sequence/
    # aggregate over arrays — the shingle/n-gram/Gopher plan shape) once:
    # its first-run codegen otherwise inflates whichever dedup-tier query
    # runs first by several seconds (simhash_near_dup measured 11.5 s
    # in-sweep vs 2.6 s warm), which reads as a phantom regression
    spark.range(0, 8).selectExpr(
        "aggregate(transform(sequence(0, 63),"
        " i -> struct(CAST(i AS STRING) AS w1, CAST(i + id AS STRING) AS w2)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + length(x.w1)) AS s"
    ).agg({"s": "sum"}).collect()

    # --repeats N: N full passes over the same key list, so the repeats of
    # any one key are separated by a whole sweep and a host-noise burst
    # cannot poison all of them at once. Pass 0 is the single-shot record
    # printed on stdout; min/median per key go only to the durable
    # BENCH_out*.json. The checkpoints each key's result reads are
    # released after its write, outside its timing, so every pass and
    # every key starts from the same block-manager state.
    from imperio_patitas_etl_spark.operators.checkpoint import release_plan

    rep_ts: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(opts.repeats):
        for key in keys:
            t0 = time.perf_counter()
            df = qs[key](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            rep_ts[key].append(round(time.perf_counter() - t0, 3))
            release_plan(df)
    timings = {k: v[0] for k, v in rep_ts.items()}

    headline_total = round(
        sum(t for k, t in timings.items() if k in set(HEADLINE)), 3
    )
    metric = "headline_queries_total"
    if sf1_mode:
        metric = "sf1_" + metric
    out = {
        "metric": metric,
        "value": headline_total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if run_all:
        out["all_total"] = round(sum(timings.values()), 3)
    if opts.repeats > 1:
        q_min, q_med = repeat_stats(rep_ts)
        out["repeats"] = opts.repeats
        out["queries_min"] = q_min
        out["queries_median"] = q_med
        out["value_min"] = round(
            sum(t for k, t in q_min.items() if k in set(HEADLINE)), 3
        )
        if run_all:
            out["all_total_min"] = round(sum(q_min.values()), 3)
    # Compact stdout variant: the full per-key map is ~6 kB and the
    # driver's stdout-tail capture (~2 kB) clips its FRONT, so that line
    # would parse as null. stdout therefore carries a summary small
    # enough to survive any tail window — same contract shape, but `queries` holds
    # only the top-10 slowest keys; the full map lives in the committed
    # BENCH_out*.json (`queries_full` names the file).
    stdout_out = dict(out)
    # the full per-key min/median maps are durable-file-only: they would
    # blow the ~2 kB stdout-tail budget (the scalar value_min/all_total_min
    # summaries stay)
    stdout_out.pop("queries_min", None)
    stdout_out.pop("queries_median", None)
    top10 = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    stdout_out["queries"] = dict(top10)
    stdout_out["n_keys"] = len(timings)
    # Durable record, mode-suffixed: BENCH_out.json is the
    # driver-comparable default sweep; other modes write their own file
    # so a --sf1 run can't clobber the sf0.1 record.
    if opts.keys is not None:
        mode = "sf1_keys" if sf1_mode else "keys"
    elif sf1_mode:
        mode = "sf1_all" if run_all else "sf1"
    else:
        mode = "all" if run_all else "headline"
    fname = "BENCH_out.json" if mode == "all" else f"BENCH_out_{mode}.json"
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
    with open(out_path, "w") as f:
        json.dump(out, f)
        f.write("\n")
    stdout_out["queries_full"] = fname
    line = fit_stdout_line(stdout_out, top10)
    # the ONE stdout line, written to the fd saved before the redirect
    os.write(real_stdout, line.encode())
    os.close(real_stdout)


def repeat_stats(rep_ts: dict[str, list[float]]) -> tuple[dict, dict]:
    """Per-key min and median over the ``--repeats`` timings; an even count
    takes the mean of the two middle values."""
    q_min = {k: min(v) for k, v in rep_ts.items()}
    q_med = {k: statistics.median(v) for k, v in rep_ts.items()}
    return q_min, q_med


def fit_stdout_line(
    stdout_out: dict, top_slowest: list[tuple[str, float]], limit: int = 1500
) -> str:
    """Serialize the stdout summary, shrinking the per-key map (top-10 →
    top-5 → top-3 → none) until the line fits ``limit`` bytes.

    The line MUST fit the driver's ~2 kB stdout-tail capture or it
    front-clips and parses as null. A bare assert would be stripped under
    ``python -O``, and when it fired it would eat the stdout record AFTER
    the durable-file write — so this always returns an emittable line
    instead."""
    line = json.dumps(stdout_out) + "\n"
    for n_top in (5, 3, 0):
        if len(line) < limit:
            break
        stdout_out["queries"] = dict(top_slowest[:n_top])
        line = json.dumps(stdout_out) + "\n"
    if len(line) >= limit:
        # Last resort: even with the per-key map stripped the
        # line is oversize — some non-queries field ballooned — so emit
        # only the headline fields; a minimal parseable record beats a
        # front-clipped null.
        minimal = {
            k: stdout_out[k]
            for k in ("metric", "value", "unit", "sf", "all_total", "n_keys")
            if k in stdout_out
        }
        line = json.dumps(minimal) + "\n"
    return line


if __name__ == "__main__":
    main()
