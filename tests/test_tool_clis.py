"""CLI guard rails for the tools/ commands: each parses its arguments
with argparse and defers the pyspark import, so every case below exits
during argument handling, before any pyspark import or SparkSession —
asserted structurally by the absence of Spark startup markers (no
wall-clock bounds). Two regressions motivated them: ``dump_plans.py
--ful`` silently produced the summary dump, and ``make_sf1.py out 0``
crashed with IndexError mid-build instead of an argument error.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from conftest import assert_no_spark_startup

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(tool: str, *argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", tool), *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=240,
    )


def assert_no_spark(res: subprocess.CompletedProcess) -> None:
    assert_no_spark_startup(res.stdout, res.stderr)


ALL_TOOLS = [
    "dump_plans.py",
    "make_sf1.py",
    "pipeline_bench.py",
]

#: tools with VARIADIC positionals by design (N keys) — they share the
#: help/typo'd-flag rails but not the arity test
VARIADIC_TOOLS = [
    "scaling_curve.py",
]


@pytest.mark.parametrize("tool", ALL_TOOLS + VARIADIC_TOOLS)
def test_help_is_fast_path(tool):
    res = run_cli(tool, "--help")
    assert res.returncode == 0
    assert "usage:" in res.stdout
    assert_no_spark(res)


@pytest.mark.parametrize("tool", ALL_TOOLS + VARIADIC_TOOLS)
def test_typoed_flag_is_an_error(tool):
    res = run_cli(tool, "--ful")
    assert res.returncode != 0
    assert "unrecognized arguments" in res.stderr
    assert_no_spark(res)


@pytest.mark.parametrize("tool", ALL_TOOLS)
def test_stray_extra_positional_is_an_error(tool):
    # every tool takes at most two positionals
    res = run_cli(tool, "/tmp", "3", "stray", "extra")
    assert res.returncode != 0
    assert "unrecognized arguments" in res.stderr or "invalid" in res.stderr
    assert_no_spark(res)


@pytest.mark.parametrize(
    "tool",
    ["dump_plans.py", "pipeline_bench.py"],
)
def test_missing_sf_dir_is_an_argument_error(tool):
    res = run_cli(tool, "/no/such/sf_dir")
    assert res.returncode != 0
    assert "no such sf_dir" in res.stderr
    assert_no_spark(res)


def test_make_sf1_zero_copies_is_an_argument_error():
    # pre-argparse this crashed as parts[0] IndexError mid-build
    res = run_cli("make_sf1.py", "/tmp/sf1_test_nowrite", "0")
    assert res.returncode != 0
    assert "copies must be >= 1" in res.stderr
    assert_no_spark(res)
    assert not os.path.exists("/tmp/sf1_test_nowrite")


@pytest.mark.parametrize(
    "out_dir", ["/root/testdata", "/root/testdata/sf0.1", "/root/testdata/new"]
)
def test_make_sf1_refuses_out_dir_inside_testdata(out_dir):
    # the testdata tree is read-only by contract; overwrite-mode writes
    # must never be pointed at it
    res = run_cli("make_sf1.py", out_dir)
    assert res.returncode != 0
    assert "outside /root/testdata" in res.stderr
    assert_no_spark(res)


def test_dump_plans_full_flag_equals_value_is_rejected():
    # --full takes no value; the = spelling must be a parse error, not
    # a silently-summary run (the r13 check.py convention)
    res = run_cli("dump_plans.py", "--full=yes")
    assert res.returncode != 0
    assert_no_spark(res)


def test_scaling_curve_invalid_key_is_an_argument_error():
    # key membership is validated against the registry BEFORE any
    # SparkSession exists — a typo'd key must not cost a JVM boot and
    # a KeyError mid-sweep
    res = run_cli("scaling_curve.py", "no_such_query_key")
    assert res.returncode != 0
    assert "invalid query key" in res.stderr
    assert_no_spark(res)


def test_scaling_curve_zero_reps_is_an_argument_error():
    res = run_cli("scaling_curve.py", "--reps", "0")
    assert res.returncode != 0
    assert "reps must be >= 1" in res.stderr
    assert_no_spark(res)


#: a trimmed ``explain('formatted')`` of a two-table join: one shuffle
#: Exchange and one BroadcastExchange, each named twice (tree + header)
CANNED_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Project (5)
            +- BroadcastHashJoin Inner BuildRight (4)
               :- Scan parquet  (1)
               +- BroadcastExchange (3)
                  +- Scan ExistingRDD (2)


(1) Scan parquet 
Output [2]: [o_orderkey#0L, o_custkey#1L]

(2) Scan ExistingRDD [codegen id : 1]
Output [1]: [c_custkey#2L]

(3) BroadcastExchange
Input [1]: [c_custkey#2L]

(4) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [o_custkey#1L]

(5) Project [codegen id : 2]
Output [1]: [o_orderkey#0L]

(6) HashAggregate [codegen id : 2]
Keys [1]: [o_orderkey#0L]

(7) Exchange
Input [1]: [o_orderkey#0L]
Arguments: hashpartitioning(o_orderkey#0L, 4), ENSURE_REQUIREMENTS

(8) HashAggregate [codegen id : 3]
Keys [1]: [o_orderkey#0L]

(9) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""


def test_plan_counts_reads_one_header_per_node():
    from tools.dump_plans import plan_counts

    c = plan_counts(CANNED_PLAN)
    assert CANNED_PLAN.count("Exchange") == 4  # the raw count that misled
    assert c["Exchange"] == 1
    assert c["BroadcastExchange"] == 1
    assert c["BroadcastHashJoin"] == 1
    assert c["Scan parquet"] == 1
    assert c["Scan ExistingRDD"] == 1
    assert c["HashAggregate"] == 2
    assert sum(c.values()) == 9
