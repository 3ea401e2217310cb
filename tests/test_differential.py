"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same check the driver runs at sf0.01."""

from __future__ import annotations

import pytest

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.testing import check_query, duckdb_connection

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    # rows-only queries (no oracle) must still build and collect
    mismatch = check_query(spark, oracle_con, name, sf_dir).mismatch
    assert mismatch is None, f"{name}: {mismatch}"
