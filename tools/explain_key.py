"""Dump ``explain("formatted")`` for registry keys to plans/<round>/.

Round-deliverable helper (r19): writes plans/<round>/<key>_<tag>.txt for
each requested key so before/after plan claims are committable artifacts.

    python tools/explain_key.py --round r19 --tag before [--sf DIR] key...
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="explain_key.py", allow_abbrev=False)
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--round", default="r19")
    ap.add_argument("--tag", required=True, help="before | after")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    opts = ap.parse_args(argv)

    from imperio_patitas_etl_spark.session import get_spark
    from imperio_patitas_etl_spark.queries import all_queries
    from tools.dump_plans import plan_counts

    spark = get_spark("explain_key")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        opts.round,
    )
    os.makedirs(out_dir, exist_ok=True)
    for key in opts.keys:
        df = qs[key](spark, opts.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{opts.tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        c = plan_counts(buf.getvalue())
        python = sum(
            n for name, n in c.items()
            if name.endswith("EvalPython") or name in ("MapInPandas", "MapInArrow")
        )
        print(
            f"{key}: wrote {path}  "
            f"Exchange={c['Exchange']} "
            f"BroadcastExchange={c['BroadcastExchange']} "
            f"ScanParquet={c['Scan parquet']} "
            f"ExistingRDD={c['Scan ExistingRDD']} "
            f"Python={python}",
            flush=True,
        )


if __name__ == "__main__":
    main()
