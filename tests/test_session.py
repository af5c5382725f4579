"""Session pins: the generated-class cache holds the engine's working
set, and ``apply_runtime_confs`` tolerates only confs a deployment
locked."""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException

import custom_python_etl_data_connector_shivaask_username_spark.session as S
from custom_python_etl_data_connector_shivaask_username_spark import registry
from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
    codegen_compiles,
)


def test_codegen_cache_keeps_classes_across_queries(spark, sf_dir):
    """More distinct classes than Spark's default 100-entry cache holds
    (each literal inlines into its own projection class), then the
    first one again: it is served from the cache, not recompiled. A
    second collect of a registry query compiles nothing either."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "2048"

    spark.range(4).selectExpr("id + 0").collect()
    for i in range(1, 120):
        # plans and compiles on the driver without running a job
        spark.range(4).selectExpr(f"id + {i}")._jdf.queryExecution(
        ).executedPlan().execute()
    before = codegen_compiles(spark)
    spark.range(4).selectExpr("id + 0").collect()
    assert codegen_compiles(spark) == before, "evicted and recompiled"

    registry.load_all()
    q = registry.QUERIES["q1_pricing_summary"]
    q(spark, sf_dir).collect()
    before = codegen_compiles(spark)
    q(spark, sf_dir).collect()
    assert codegen_compiles(spark) == before


def test_apply_runtime_confs_tolerates_only_locked_confs(spark, monkeypatch):
    """A static conf (``CANNOT_MODIFY_STATIC_CONFIG``) keeps the
    session's value; a bad value is a bug and raises."""
    monkeypatch.setattr(
        S, "RUNTIME_CONFS", {"spark.sql.codegen.cache.maxEntries": "16"}
    )
    S.apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"

    monkeypatch.setattr(
        S, "RUNTIME_CONFS", {"spark.sql.adaptive.enabled": "notabool"}
    )
    with pytest.raises(IllegalArgumentException):
        S.apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
