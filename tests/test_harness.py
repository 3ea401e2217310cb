"""Mutation tests for the differential harness itself: the comparator must
detect every class of divergence (otherwise green runs prove nothing)."""

from __future__ import annotations

import os

import pandas as pd

from oe_batch_processing_spark.testing import compare

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


def test_driver_window_is_priority_ordered():
    """The driver checks a ~50-query registration-order prefix; the window
    must be exactly the curated priority list, fully oracle-bearing except
    the declared approximates."""
    import importlib.util

    from oe_batch_processing_spark import registry

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", ENTRY
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = list(mod.queries())
    prio = list(registry.DRIVER_CHECK_PRIORITY)
    assert names[: len(prio)] == prio
    missing = [n for n in prio if n not in registry.QUERIES]
    assert not missing, f"priority names not registered: {missing}"


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
