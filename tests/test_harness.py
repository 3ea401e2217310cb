"""Tests for the query-run harness itself: the comparator must detect every
class of divergence (otherwise green runs prove nothing), and the runners
must record, time and release what they run."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.testing import (
    check_query,
    compare,
    duckdb_connection,
    time_query,
)

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"
)


def test_compare_equal_is_none():
    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    b = pd.DataFrame({"v": [2.5, 1.5], "k": [2, 1]})  # order-insensitive
    assert compare(a, b) is None


def test_compare_detects_single_ulp_float_difference():
    a = pd.DataFrame({"v": [1.0000000000000002]})
    b = pd.DataFrame({"v": [1.0]})
    assert "differ" in compare(a, b)


def test_compare_detects_rowcount_and_columns():
    a = pd.DataFrame({"k": [1, 2]})
    assert "rowcount" in compare(a, pd.DataFrame({"k": [1]}))
    assert "columns" in compare(a, pd.DataFrame({"x": [1, 2]}))


def test_compare_detects_type_difference():
    a = pd.DataFrame({"v": [1]})        # int
    b = pd.DataFrame({"v": [1.0]})      # float
    assert compare(a, b) is not None


def test_compare_handles_nulls_and_nan():
    a = pd.DataFrame({"v": [None, float("nan")]}, dtype="object")
    b = pd.DataFrame({"v": [None, float("nan")]}, dtype="object")
    assert compare(a, b) is None
    c = pd.DataFrame({"v": [None, 1.0]}, dtype="object")
    assert compare(a, c) is not None


def test_driver_window_has_no_array_columns(spark, sf_dir):
    """Round-1 lesson: the driver's value-hasher crashes on array/map
    output columns. Nothing in the checked window may emit one. (Streaming
    queries are exempted from the build here — constructing them executes a
    bounded stream — their selects are all date_format/count/sum scalars.)"""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", ENTRY
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    offenders = []
    for name in list(qs)[:50]:
        if name.startswith("stream_"):
            continue
        df = qs[name](spark, sf_dir)
        for f in df.schema.fields:
            t = type(f.dataType).__name__
            if "Array" in t or "Map" in t:
                offenders.append((name, f.name, t))
    assert not offenders, f"array/map columns in driver window: {offenders}"


@pytest.mark.parametrize("action", ["count", "noop"])
def test_time_query_returns_one_wall_per_repeat(spark, sf_dir, action):
    run = time_query(
        spark, "q6_forecast_revenue", sf_dir, repeat=3, action=action
    )
    assert run.error is None and run.warmup_error is None
    assert len(run.walls) == 3 and all(w > 0 for w in run.walls)
    assert run.df is not None
    assert run.rows == (1 if action == "count" else None)


def test_time_query_records_errors(spark, sf_dir, monkeypatch):
    def broken(spark, sf_dir):
        raise RuntimeError(f"cannot build at {sf_dir}")

    monkeypatch.setitem(registry.QUERIES, "broken_query", broken)
    run = time_query(
        spark, "broken_query", sf_dir, repeat=3, warm_dir="/warm"
    )
    assert run.warmup_error == "RuntimeError: cannot build at /warm"
    assert run.error == f"RuntimeError: cannot build at {sf_dir}"
    assert run.walls == [] and run.rows is None


def test_check_query_reports_wrong_oracle(spark, sf_dir):
    """An oracle over other data (sf0.01 instead of sf0.001) must not pass."""
    con = duckdb_connection(os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    try:
        res = check_query(spark, con, "q1_pricing_summary", sf_dir)
    finally:
        con.close()
    assert res.mismatch is not None and "differ" in res.mismatch
    assert res.rows > 0 and res.wall_s > 0


def test_check_query_releases_persisted_frames(spark, sf_dir):
    """pipeline_split_leakage_report persists its keyed shingle index and
    returns a lazy frame that cannot release it; the harness must."""
    con = duckdb_connection(sf_dir)
    # frames cached by earlier tests would be released too and lower the count
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    try:
        res = check_query(spark, con, "pipeline_split_leakage_report", sf_dir)
    finally:
        con.close()
    assert res.mismatch is None
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
