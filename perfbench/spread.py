"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query_sweep --seeds 1-10 [--trace 1]

Runs ``perfbench/run.py`` once per seed, sequentially, from the repository
root. Prints one line per run, then per metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share of
the median. ``--out`` appends each run's info and result lines as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench/spread.py", allow_abbrev=False)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="36")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", help="append per-run JSON records to this file")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace,
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        info = json.loads(lines[-2].removeprefix("perfbench-info ")) if len(lines) > 1 else {}
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        print(
            f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
            f"attempted={result['attempted']} failed={result['failed']} "
            + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()),
            flush=True,
        )
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall, "info": info, "result": result}) + "\n")
        values.setdefault("run_wall_s", []).append(wall)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:48s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  spread {share:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
