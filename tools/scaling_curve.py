"""Three-point scaling curve for the superlinear-watch keys.

The 10×-data table (BASELINE.md) flags keys by a single sf0.1→sf1 wall
ratio, which conflates fixed overhead, box noise, and genuine scaling.
This tool runs each watch key at THREE scale points — sf0.1 (native),
sf1 (10× replicated), sf2 (20× replicated, built by
``tools/make_sf1.py /tmp/sf2 20``) — taking the MIN of N warm reps per
point (min is the right statistic on a box with documented rotating
spikes), and fits the log-log slope over the two decades:

    exponent = log(t_sf2 / t_sf0.1) / log(20)

An exponent ≤ 1 is linear-or-better; 1-1.3 is linear with overhead decay;
≥ 1.5 sustained across both decades is a genuine quadratic-term flag.
The sf1→sf2 segment is the more trustworthy one (both points amortize
fixed overhead); it is printed separately.

Usage: python tools/scaling_curve.py [--reps N] [key ...]
Default keys: every row ≥ 3× in the committed 10×-data table.
Prints one JSON line per key plus a markdown table on stderr for
BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: rows >= 3x in the 10x-data table (BASELINE.md)
WATCH_KEYS = (
    "ngram_jaccard_dedup",
    "cosine_dedup_recall",
    "bloom_prefilter_join",
    "token_count",
    "doc_fingerprint",
    "kmv_join_cardinality",
    "corpus_keep_list",
    "ann_recall",
    "ann_topk_bruteforce",
    "dup_clusters",
    "bigram_logprob",
    "dq_anomaly_mad",
    "dup_clusters_star",
)

POINTS = (
    ("sf0.1", "/root/testdata/sf0.1", 1.0),
    ("sf1", "/tmp/sf1", 10.0),
    ("sf2", "/tmp/sf2", 20.0),
)


def main() -> None:
    ap = argparse.ArgumentParser(
        prog="scaling_curve.py",
        allow_abbrev=False,
        description=(
            "Fit per-key log-log scaling exponents over sf0.1/sf1/sf2; "
            "one JSON line per key plus a markdown table on stderr."
        ),
    )
    ap.add_argument(
        "keys",
        nargs="*",
        default=None,
        help="registry query keys (default: the superlinear-watch set)",
    )
    ap.add_argument(
        "--reps", type=int, default=3, help="warm reps per point (min is kept)"
    )
    args = ap.parse_args()
    if args.reps < 1:
        ap.error(f"reps must be >= 1, got {args.reps}")
    keys = args.keys or list(WATCH_KEYS)

    from imperio_patitas_etl_spark.queries import all_queries

    registry = all_queries()
    for key in keys:
        if key not in registry:
            ap.error(f"invalid query key: {key!r} is not in the registry")
    for _, d, _ in POINTS:
        if not os.path.isdir(d):
            sys.exit(f"missing scale point {d} — build it with tools/make_sf1.py")

    from imperio_patitas_etl_spark.session import get_spark

    # the session bench.py measures with: cores, heap and shuffle
    # partitions sized from the machine, UTC, AQE
    spark = get_spark("scaling_curve")
    spark.sparkContext.setLogLevel("ERROR")
    from imperio_patitas_etl_spark.operators.checkpoint import release_plan

    qs = registry
    # per-KEY checkpoint reclamation: the ngram/CC keys' results read
    # localCheckpoint blocks; 13 keys × 3 points × reps would pile ~100
    # generations into one driver and skew the later keys' minima.
    # Released BETWEEN keys (never between reps: a full-sweep A/B
    # (SCALE.md, "negative result: per-key checkpoint release") measured
    # the non-blocking unpersist storm bleeding into the next timed
    # window — min-of-reps absorbs one polluted first rep, but per-rep
    # release would pollute all).
    md = [
        "| query key | sf0.1 s | sf1 s | sf2 s | exp 0.1→2 | exp 1→2 |",
        "|---|---|---|---|---|---|",
    ]
    for key in keys:
        fn = qs[key]
        best: dict[str, float] = {}
        consumed = []
        for label, d, _scale in POINTS:
            times = []
            for _ in range(args.reps):
                t0 = time.time()
                df = fn(spark, d)
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
                consumed.append(df)
            best[label] = min(times)
        e_full = math.log(best["sf2"] / best["sf0.1"]) / math.log(20.0)
        e_seg = math.log(best["sf2"] / best["sf1"]) / math.log(2.0)
        rec = {
            "key": key,
            "sf0.1": round(best["sf0.1"], 2),
            "sf1": round(best["sf1"], 2),
            "sf2": round(best["sf2"], 2),
            "exp_full": round(e_full, 2),
            "exp_sf1_sf2": round(e_seg, 2),
        }
        print(json.dumps(rec), flush=True)
        md.append(
            f"| {key} | {rec['sf0.1']} | {rec['sf1']} | {rec['sf2']} "
            f"| {rec['exp_full']} | {rec['exp_sf1_sf2']} |"
        )
        for df in consumed:
            release_plan(df)
    print("\n".join(md), file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
