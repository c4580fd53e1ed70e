"""Dump physical-plan summaries (and headline full plans) to PLANS.md.

Transparency artifact: for EVERY benchmark headline query, one summary
line — shuffle (Exchange) count and broadcast-join count at sf0.01 — and
for the ~dozen flagship plans, the full ``explain('formatted')`` output,
so plan properties (pushed filters, pruned read schemas, codegen spans)
can be reviewed without running Spark. The full dump of every plan is
~420 kB of churn per change, so it is generated on demand instead of
committed:

    python tools/dump_plans.py [sf_dir]           # summary + flagship plans
    python tools/dump_plans.py [sf_dir] --full    # every plan, full text
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: plans committed in full — the expensive / novel plan families a
#: reviewer most needs to see verbatim
FLAGSHIP = (
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q19",
    "tpch_q20",
    "dedup_minhash_lsh",
    "ngram_jaccard_dedup",
    "quality_gopher",
    "ann_ivf_trained",
    "sessionize_sharded",
    "dup_clusters_star",
    "range_join",
    # extension tiers
    "span_dedup",
    "event_funnel",
    "scd2_incremental",
    "bloom_prefilter_join",
    "pareto_frontier_2d",
    # scan/statistics + behavioral tier
    "equi_depth_histogram",
    "pps_systematic_sample",
    "triangle_count",
    "attribution_last_touch",
    "node_jaccard_linkpred",
)

#: keys whose STATIC explain is known to be estimate-poisoned: their
#: plan reads a localCheckpoint whose carried statistics come from a
#: JOIN, and Spark's size-only estimation (CBO off) sets a join's
#: sizeInBytes to the PRODUCT of its inputs — so every downstream
#: broadcast decision in the dumped text degrades to SortMergeJoin even
#: though runtime AQE re-plans each stage with exact sizes and restores
#: the broadcasts. For these keys the summary also records the FINAL
#: adaptive plan's join strategies (the query is executed — outputs are
#: row-bounded — and the post-execution executedPlan inspected; the
#: restoration is pinned in tests/test_plans.py).
FINAL_PLAN_KEYS = ("ngram_jaccard_dedup",)


def plan_counts(plan: str) -> collections.Counter:
    """Operator counts of an ``explain('formatted')`` string, read from
    the "(n) Name" detail headers — one per node. The tree part repeats
    every node name, so a raw substring count double-counts, and a
    substring such as ``Exchange`` also matches ``BroadcastExchange``.
    Scan nodes keep their format (``Scan parquet``, ``Scan ExistingRDD``)."""
    return collections.Counter(
        re.findall(r"^\(\d+\) (Scan \S+|\S+)", plan, re.M)
    )


def main(argv: list[str] | None = None) -> None:
    # argparse like the rest of tools/: a hand-rolled parser would
    # silently drop a typo'd flag such as ``--ful`` from the positional
    # list, producing the SUMMARY dump where the caller asked for the
    # full one.
    ap = argparse.ArgumentParser(
        prog="dump_plans.py",
        allow_abbrev=False,
        description=(
            "Regenerate PLANS.md: shuffle/broadcast summary for every "
            "registry query plus full explain('formatted') text for the "
            "flagship plans."
        ),
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="parquet tables directory (default: %(default)s)",
    )
    ap.add_argument(
        "--full",
        action="store_true",
        help="emit every plan's full text (~420 kB; not committed)",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        ap.error(f"no such sf_dir: {args.sf_dir}")
    full, sf_dir = args.full, args.sf_dir

    from bench import HEADLINE
    from imperio_patitas_etl_spark.queries import all_queries
    from imperio_patitas_etl_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    out = [
        "# PLANS — physical-plan summaries of every registry query",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Summary table:",
        "shuffle (Exchange) and broadcast-join counts for EVERY registry",
        "query (headline order first); full `explain('formatted')` text for",
        "the flagship plans.",
        "Run with `--full` for every plan's full text (not committed — the",
        "full dump is ~420 kB of per-round churn).",
        "",
        "| query | shuffles (Exchange) | broadcast joins |",
        "|---|---|---|",
    ]
    from imperio_patitas_etl_spark.operators.checkpoint import release_plan

    plans: dict[str, str] = {}
    # the final-plan pass reuses the static pass's DataFrame:
    # re-instantiating qs[key] would eagerly materialize a SECOND
    # corpus-sized shingle/pair checkpoint generation
    final_dfs: dict[str, "object"] = {}
    keys = [k for k in HEADLINE if k in qs] + [
        k for k in qs if k not in set(HEADLINE)
    ]
    for key in keys:
        df = qs[key](spark, sf_dir)
        if key in FINAL_PLAN_KEYS:
            final_dfs[key] = df
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        plans[key] = plan
        if key not in FINAL_PLAN_KEYS:
            release_plan(df)
        counts = plan_counts(plan)
        mark = " (*)" if key in FINAL_PLAN_KEYS else ""
        out.append(
            f"| {key}{mark} | {counts['Exchange']} | "
            f"{counts['BroadcastHashJoin']} |"
        )
    out.append("")
    for key in FINAL_PLAN_KEYS:
        if key not in final_dfs:
            continue
        fdf = final_dfs[key]
        fdf.collect()
        final = fdf._jdf.queryExecution().executedPlan().toString()
        release_plan(fdf)
        fb = final.count("BroadcastHashJoin")
        fs = final.count("SortMergeJoin")
        out += [
            f"(*) `{key}`: the static row above is estimate-poisoned — "
            "the plan reads a checkpoint whose carried statistics come "
            "from a join, and size-only estimation makes a join's "
            "sizeInBytes the PRODUCT of its inputs, demoting every "
            "static broadcast decision. The FINAL adaptive plan "
            f"(executed at this sf) reads **{fb} BroadcastHashJoin / "
            f"{fs} SortMergeJoin** — AQE restores the broadcasts per "
            "stage from exact runtime sizes (pinned in "
            "tests/test_plans.py).",
            "",
        ]
    # committed form: flagship headline plans only; --full honors the
    # docstring's "every plan, full text" — ALL registry keys, headline
    # order first
    emit_keys = keys if full else [k for k in HEADLINE]
    for key in emit_keys:
        if key not in plans:
            continue
        if not full and key not in FLAGSHIP:
            continue
        plan = plans[key]
        if not full:
            # committed form: the operator tree (shape, join strategies,
            # exchange placement) + the Scan detail blocks (PushedFilters,
            # ReadSchema — the pushdown evidence). Other operators' detail
            # blocks are bulk without review value; --full keeps them.
            chunks = re.split(r"(?m)^(?=\(\d+\) )", plan)
            plan = "".join(
                c for i, c in enumerate(chunks)
                if i == 0 or c.startswith(("(", ")")) and "Scan parquet" in c.splitlines()[0]
            ).rstrip()
            # a self-joining plan repeats its subtree per alias — cap the
            # committed form (the shape is visible in the first lines;
            # --full keeps everything)
            lines = plan.splitlines()
            if len(lines) > 220:
                plan = "\n".join(
                    lines[:220]
                    + [f"... [{len(lines) - 220} more lines — repeated "
                       "self-join subtrees; run tools/dump_plans.py --full]"]
                )
        out += [f"## {key}", "", "```", plan, "```", ""]

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(path, "w") as f:
        f.write("\n".join(out))
    size_kb = os.path.getsize(path) / 1024
    print(f"wrote {path} ({len(plans)} queries, {size_kb:.0f} kB)")


if __name__ == "__main__":
    main()
