"""bench.py's stdout-line contract (ADVICE r10): the single JSON result
line must ALWAYS be emitted and must fit the driver's ~2 kB stdout-tail
capture, shrinking the per-key map rather than raising — a raised guard
(the old bare assert) ate the round's stdout record after the durable
file was already written, and vanished entirely under ``python -O``.

Plus the r15 CLI guards: bench.py was the last hand-rolled sys.argv
parser — a typo'd ``--al`` was silently dropped, turning an intended
full-registry sf1 sweep into a headline-only one. Arg-error paths exit
before any pyspark import (asserted structurally, no Spark markers).

No Spark needed: ``fit_stdout_line`` and ``repeat_stats`` are pure; the
CLI cases exit during argument handling.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bench import fit_stdout_line, repeat_stats
from conftest import assert_no_spark_startup

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench_cli(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=240,
    )


def test_cli_help_is_fast_path():
    res = run_bench_cli("--help")
    assert res.returncode == 0
    assert "usage:" in res.stdout
    assert_no_spark_startup(res.stdout, res.stderr)


def test_cli_typoed_flag_is_an_error():
    # the pre-r15 slicer silently dropped --al: an intended
    # `--sf1 --all` full sweep ran headline-only with exit 0
    res = run_bench_cli("--sf1", "--al")
    assert res.returncode != 0
    assert "unrecognized arguments" in res.stderr
    assert_no_spark_startup(res.stdout, res.stderr)


def test_cli_dir_without_sf1_is_an_error():
    res = run_bench_cli("/tmp/somewhere")
    assert res.returncode != 0
    assert "requires --sf1" in res.stderr
    assert_no_spark_startup(res.stdout, res.stderr)


def test_cli_all_and_headline_are_mutually_exclusive():
    res = run_bench_cli("--all", "--headline")
    assert res.returncode != 0
    assert "not allowed with" in res.stderr
    assert_no_spark_startup(res.stdout, res.stderr)


def test_cli_unknown_or_empty_keys_is_an_error():
    res = run_bench_cli("--keys", "tpch_q1,no_such_query_key")
    assert res.returncode != 0
    assert "unknown registry keys: no_such_query_key" in res.stderr
    assert_no_spark_startup(res.stdout, res.stderr)
    res = run_bench_cli("--keys", ",")
    assert res.returncode != 0
    assert "empty" in res.stderr
    assert_no_spark_startup(res.stdout, res.stderr)


def _summary(n_keys: int, key_len: int = 20) -> tuple[dict, list]:
    top = [(f"{'k' * key_len}_{i:03d}", 1.0 + i / 1000) for i in range(n_keys)]
    out = {
        "metric": "headline_queries_total",
        "value": 136.406,
        "unit": "sec",
        "queries": dict(top),
        "sf": 0.1,
        "all_total": 184.752,
        "n_keys": 175,
        "queries_full": "BENCH_out.json",
    }
    return out, top


def test_normal_summary_fits_untouched():
    out, top = _summary(10)
    line = fit_stdout_line(dict(out), top)
    parsed = json.loads(line)
    assert parsed["queries"] == dict(top)
    assert len(line) < 1500


def test_oversize_summary_shrinks_to_fit_and_still_parses():
    # pathological key names blow the line past the limit
    out, top = _summary(10, key_len=400)
    line = fit_stdout_line(dict(out), top)
    assert len(line) < 1500
    parsed = json.loads(line)
    # shrunk but the headline metrics survive intact
    assert len(parsed["queries"]) < 10
    assert parsed["all_total"] == out["all_total"]
    assert parsed["queries_full"] == "BENCH_out.json"


def test_worst_case_drops_the_map_but_always_emits():
    out, top = _summary(10, key_len=2000)
    line = fit_stdout_line(dict(out), top)
    parsed = json.loads(line)
    assert parsed["queries"] == {}
    assert line.endswith("\n") and "\n" not in line[:-1]


def test_non_queries_field_blowout_falls_back_to_headline_fields():
    """ADVICE r11: when a NON-queries field alone exceeds the limit,
    stripping the per-key map can't save the line — the last-resort pass
    must emit only the headline fields (still parseable, still under the
    limit) instead of returning an oversize line the driver's tail
    capture would front-clip to null."""
    out, top = _summary(10)
    out["queries_full"] = "B" * 3000  # a ballooned non-queries field
    line = fit_stdout_line(dict(out), top)
    assert len(line) < 1500
    parsed = json.loads(line)
    assert parsed["value"] == out["value"]
    assert parsed["all_total"] == out["all_total"]
    assert "queries_full" not in parsed


def test_real_r10_shaped_line_is_stable():
    """The shape the driver actually recorded in BENCH_r10.json parses
    and is nowhere near the limit — the shrink path must not fire."""
    out, top = _summary(10)
    line = fit_stdout_line(dict(out), top)
    assert len(line) < 600


def test_repeat_median_of_two_is_their_mean():
    """``--repeats 2``: the median is the mean of the two passes, not the
    slower one."""
    q_min, q_med = repeat_stats({"dup_clusters": [5.06, 3.48], "tpch_q3": [1.0, 2.0, 9.0]})
    assert q_min == {"dup_clusters": 3.48, "tpch_q3": 1.0}
    assert q_med == {"dup_clusters": (5.06 + 3.48) / 2, "tpch_q3": 2.0}
