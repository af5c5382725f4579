"""Scale-strategy pins: bucketed co-located joins (shuffle paid once at
write time, zero exchanges per join) and the planner's use of declared
bucketing."""

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


def test_planner_exploits_declared_bucketing(spark, bucketed_tables, sf_dir):
    """Round 9: `plan_join_tree(partitioned_on=...)` treats a declared
    bucket key as a free shuffle side, so edges between co-bucketed
    tables cost only their output estimate. On two co-bucketed facts
    plus a big unbucketed dim, the DECLARED plan folds the bucketed
    pair first and executes with one fewer exchange than the
    undeclared plan (whose cardinality+shuffle cost orders the dim
    edge first); results identical. The greedy stays myopic across
    folds — the declaration biases toward exploiting the shuffle
    already paid at write time, it does not re-plan globally."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        collect_table_stats,
        plan_join_tree,
    )

    li_t, ord_t = bucketed_tables
    li = spark.table(li_t)
    orders = spark.table(ord_t)
    # 5000 unique keys covering the o_custkey domain: its edge has a
    # SMALLER output estimate than li-orders but big shuffle mass
    cb = spark.range(0, 5000).select(F.col("id").alias("ck"))
    tables = {"li": li, "orders": orders, "cb": cb}
    edges = [
        ("li", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "cb", "ck"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        declared, order_d = plan_join_tree(
            tables,
            edges,
            stats=stats,
            broadcast_threshold=-1,
            partitioned_on={"li": ["l_orderkey"], "orders": ["o_orderkey"]},
        )
        plain, order_p = plan_join_tree(
            tables, edges, stats=stats, broadcast_threshold=-1
        )
        # the declaration flips the first fold onto the bucketed pair
        assert set(order_d[:2]) == {"li", "orders"}, order_d
        assert set(order_p[:2]) == {"orders", "cb"}, order_p
        # and the bucketed-pair-first plan pays one fewer exchange:
        # li and orders scans are co-located (0) + cur reshuffle + cb
        ex_d = count_exchanges(declared)
        ex_p = count_exchanges(plain)
        assert ex_d < ex_p, (ex_d, ex_p)
        want = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cb, F.col("o_custkey") == F.col("ck"))
            .count()
        )
        assert declared.count() == want and plain.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
