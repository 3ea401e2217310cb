"""Accuracy gates for the mergeable-sketch operators (rows-only for the
driver — these tests ARE their correctness check, against exact distincts)."""

from __future__ import annotations

import pyspark.sql.functions as F

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
REL_TOL = 0.05  # default lgConfigK=12 => ~1.6% standard error; 5% is 3 sigma


def test_hll_rollup_matches_exact_within_tolerance(spark):
    est = {
        r["scope"]: r["distinct_users_est"]
        for r in registry.QUERIES["sketch_hll_user_rollup"](spark, SF_DIR).collect()
    }
    e = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = e.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for scope, n in exact.items():
        assert abs(est[scope] - n) <= max(1, REL_TOL * n), (scope, est[scope], n)


def test_hll_union_of_parts_equals_sketch_of_whole(spark):
    """Mergeability: union of per-segment sketches must estimate the same
    set as one sketch over the whole data (identical summary, not just
    close — DataSketches unions are deterministic for identical input)."""
    e = load_table(spark, SF_DIR, "events")
    whole = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")
    ).first()["n"]
    parts = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .first()["n"]
    )
    assert parts == whole


def test_theta_overlap_matches_exact_within_tolerance(spark):
    rows = registry.QUERIES["sketch_theta_segment_overlap"](
        spark, SF_DIR
    ).collect()
    e = load_table(spark, SF_DIR, "events")
    users = {
        r["event_type"]: set(r["us"])
        for r in e.groupBy("event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .collect()
    }
    assert rows, "no pairs produced"
    for r in rows:
        exact_i = len(users[r["type_a"]] & users[r["type_b"]])
        exact_d = len(users[r["type_a"]] - users[r["type_b"]])
        assert abs(r["overlap_est"] - exact_i) <= max(2, REL_TOL * exact_i), r
        assert abs(r["only_a_est"] - exact_d) <= max(2, REL_TOL * exact_d), r


def test_approx_count_distinct_within_three_rsd(spark):
    """HLL++ at rsd=0.01: every priority's estimate is within 3 x rsd of
    the exact per-priority distinct customer count."""
    rsd = 0.01
    est = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in registry.QUERIES["agg_approx_count_distinct"](
            spark, SF_DIR
        ).collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= 3 * rsd * n, (k, est[k], n)


def test_stratified_sample_sizes_and_determinism(spark):
    """Strata at fraction 1.0 keep every row; the Bernoulli strata land
    within 4 sigma of n * p; the fixed seed makes reruns identical."""
    fractions = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.25}
    run = registry.QUERIES["sample_stratified_documents"]
    first = sorted(tuple(r) for r in run(spark, SF_DIR).collect())
    assert sorted(tuple(r) for r in run(spark, SF_DIR).collect()) == first
    got = dict(first)
    exact = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) <= set(fractions)
    for lang, p in fractions.items():
        n = exact[lang]
        if p == 1.0:
            assert got[lang] == n, lang
        else:
            sigma = (n * p * (1 - p)) ** 0.5
            assert abs(got.get(lang, 0) - n * p) <= 4 * sigma, (lang, got, n)
