"""Registry contract smoke: every queries() entry runs at sf0.001 and
returns a stable non-empty schema; oracle keys line up with query keys;
column names are driver-compare-safe (no duplicate names after sort)."""

from __future__ import annotations

import pytest

from imperio_patitas_etl_spark.queries import all_oracles, all_queries

QS = all_queries()
OR = all_oracles()


def test_every_query_has_oracle_or_is_declared_rows_only():
    # every query has an oracle, listed in registry order
    assert list(OR) == list(QS)


@pytest.mark.parametrize("key", sorted(QS))
def test_query_runs_and_has_schema(spark, sf_dir, key):
    df = QS[key](spark, sf_dir)
    cols = df.columns
    assert len(cols) > 0
    assert len(set(cols)) == len(cols), f"duplicate column names in {key}: {cols}"
    # driver collects: must not raise
    df.limit(5).collect()
