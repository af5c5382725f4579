"""Scale-strategy pins: bucketed co-located joins (shuffle paid once at
write time, zero exchanges per join) and bucketed aggregation."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.bucketing import (
    co_located_join,
    write_bucketed,
)
from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table


def _purge_table(spark, name: str) -> None:
    """DROP the table AND remove its warehouse location.

    ``spark.sql.warehouse.dir`` is resolved once at session creation
    (chdir-ing does NOT move it), so a crashed earlier run can leave an
    orphan directory that errors the next CREATE with
    LOCATION_ALREADY_EXISTS even after DROP TABLE IF EXISTS.
    """
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    for t in ("li_bucketed", "orders_bucketed"):
        _purge_table(spark, t)
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        write_bucketed(li, "li_bucketed", ["l_orderkey"], num_buckets=4)
        write_bucketed(orders, "orders_bucketed", ["o_orderkey"], num_buckets=4)
        yield ("li_bucketed", "orders_bucketed")
    finally:
        for t in ("li_bucketed", "orders_bucketed"):
            _purge_table(spark, t)


def test_bucketed_join_has_zero_exchanges(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    # forbid broadcast so the co-location (not dim size) elides the shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = co_located_join(spark, li_t, ord_t, "l_orderkey", "o_orderkey")
        assert count_exchanges(j) == 0
        assert "SortMergeJoin" in formatted_plan(j)
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_agg_on_bucket_key_has_zero_exchanges(spark, bucketed_tables):
    li_t, _ = bucketed_tables
    agg = (
        spark.table(li_t)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert count_exchanges(agg) == 0
