"""Differential oracle tests: every registered query vs its DuckDB oracle.

This mirrors the driver's CORRECTNESS gate (SURVEY.md §5.1) at sf0.001 so a
full sweep stays fast enough to run on every change.
"""

import pytest

from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
from tests.conftest import SF_DIR, assert_parity


@pytest.mark.parametrize("name", sorted(R.ORACLES))
def test_oracle_parity(spark, duck, name):
    assert_parity(R.QUERIES[name](spark, SF_DIR), duck, R.ORACLES[name], name)


def test_every_query_runs(spark):
    for name, fn in R.QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_oracles_cover_queries():
    """Every query has an oracle unless explicitly rows-only by design."""
    rows_only = {
        "embedding_kmeans",
        "size_quantiles_approx",
        "daily_distinct_gtids_approx",
    }
    missing = [n for n in R.QUERIES if n not in R.ORACLES and n not in rows_only]
    assert missing == [], f"queries silently lacking an oracle: {missing}"
