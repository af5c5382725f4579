"""Unit tests for the ETL transform library (functions/etl.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.functions.etl import (
    add_ingest_ts,
    dedupe_exact,
    flatten_struct,
    null_handling,
    quarantine_split,
    sanitize_columns,
    sanitize_name,
    type_normalize,
)


def test_sanitize_name():
    assert sanitize_name("user.name") == "user_name"
    assert sanitize_name("$oid") == "oid"
    assert sanitize_name("camelCaseKey") == "camel_case_key"
    assert sanitize_name("has space") == "has_space"


def test_sanitize_columns_nested(spark):
    df = spark.createDataFrame(
        [Row(**{"user.id": 1, "payload": Row(**{"$ref": "x", "okKey": 2})})]
    )
    out = sanitize_columns(df)
    assert set(out.columns) == {"user_id", "payload"}
    payload_fields = {
        f.name for f in out.schema["payload"].dataType.fields
    }
    assert payload_fields == {"ref", "ok_key"}
    row = out.collect()[0]
    assert row["user_id"] == 1 and row["payload"]["ref"] == "x"


def test_sanitize_columns_keeps_order_and_nested_types(spark):
    df = spark.createDataFrame(
        [(1, "x", (2, [(3,)]))],
        "zLast INT, `a.b` STRING, "
        "`$meta` STRUCT<innerKey: INT, items: ARRAY<STRUCT<`deep.key`: INT>>>",
    )
    out = sanitize_columns(df)
    assert out.columns == ["z_last", "a_b", "meta"]
    assert out.schema["meta"].dataType.simpleString() == (
        "struct<inner_key:int,items:array<struct<deep_key:int>>>"
    )
    assert out.collect()[0]["meta"]["items"][0]["deep_key"] == 3


def test_add_ingest_ts(spark):
    df = spark.createDataFrame([Row(a=1), Row(a=2)])
    out = add_ingest_ts(df)
    rows = out.collect()
    assert all(r["_ingested_at"] is not None for r in rows)
    # query-constant: every row in the batch gets the same stamp
    assert len({r["_ingested_at"] for r in rows}) == 1


def test_type_normalize_try_cast(spark):
    df = spark.createDataFrame(
        [Row(n="42", ts="2024-01-01 00:00:00"), Row(n="oops", ts="bad")]
    )
    out = type_normalize(df, {"n": "int", "ts": "timestamp_ntz"})
    rows = {r["n"]: r for r in out.collect()}
    assert rows[42]["ts"] is not None
    assert None in rows and rows[None]["ts"] is None  # bad rows -> NULL


def test_quarantine_split(spark):
    df = spark.createDataFrame([Row(v=1), Row(v=None), Row(v=50)])
    ok, bad = quarantine_split(df, F.col("v").isNotNull() & (F.col("v") < 10))
    assert [r["v"] for r in ok.collect()] == [1]
    assert sorted(r["v"] for r in bad.collect() if r["v"]) == [50]
    assert bad.count() == 2  # NULL routed to quarantine, not dropped


def test_dedupe_and_nulls(spark):
    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="a"), Row(k=2, v=None)]
    )
    assert dedupe_exact(df, ["k"]).count() == 2
    filled = null_handling(df, fill={"v": "?"})
    assert {r["v"] for r in filled.collect()} == {"a", "?"}
    dropped = null_handling(df, drop_subset=["v"])
    assert dropped.count() == 2


def test_flatten_struct(spark):
    df = spark.createDataFrame([Row(id=1, payload=Row(x=10, y="z"))])
    out = flatten_struct(df, "payload")
    assert set(out.columns) == {"id", "x", "y"}
    assert out.collect()[0]["x"] == 10
