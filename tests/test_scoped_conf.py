"""Session-conf hygiene: the queries that retune the session for a loop
or a bounded stream leave it as they found it, through the one
``scoped_conf`` helper."""

from __future__ import annotations

import pytest

import oe_batch_processing_spark.operators  # noqa: F401
import oe_batch_processing_spark.streaming  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.session import scoped_conf

KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.streaming.stateStore.providerClass",
)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_connected_components",
        "graph_connected_components_star",
        "stream_split_leakage_gate",
        "stream_quality_classifier",
        "stream_tws_type_stats",
    ],
)
def test_query_leaves_session_confs_as_found(spark, sf_dir, name):
    before = {k: spark.conf.get(k, None) for k in KEYS}
    registry.QUERIES[name](spark, sf_dir).collect()
    assert {k: spark.conf.get(k, None) for k in KEYS} == before


def test_scoped_conf_restores_and_unsets_when_body_raises(spark):
    key, unset = "spark.sql.shuffle.partitions", "spark.oebp.test.scoped"
    before = spark.conf.get(key)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: "3", unset: "x"}):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(unset) == "x"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset, None) is None
