"""Fixture-contract canary: the driver regenerates /root/testdata per
round, and its physical encodings have drifted before (events.ts moved
TIMESTAMP(NANOS) → TIMESTAMP(MICROS) between rounds 3 and 4, silently
landing every streamed event in Jan-1970 until round 5 made the readers
adaptive). These pins turn the next drift into ONE loud, named failure
instead of a constellation of mysterious red driver rows.

Two layers:
- the NORMALIZED logical schema every operator programs against (must
  hold whatever the parquet encoding — this is what the adaptive
  readers guarantee);
- the RAW physical footer types we currently adapt FROM (may legally
  drift; the assertion message says exactly what changed and where the
  adaptivity lives, so the fix is a doc update, not an archaeology dig).
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.tables import (
    TABLES,
    load_table,
)

#: the logical column types operators rely on, post-normalization
NORMALIZED = {
    "events": {
        "event_id": "bigint",
        "ts": "timestamp_ntz",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "lang": "string",
        "text": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}

#: physical encodings the adaptive readers currently expect to see —
#: drift here is legal but should be a conscious event
PHYSICAL_TS_ENCODINGS = {"timestamp[us]", "timestamp[ns]", "int64"}


def test_normalized_logical_schemas(spark, sf_dir):
    for table, expected in NORMALIZED.items():
        got = dict(load_table(spark, sf_dir, table).dtypes)
        for col, typ in expected.items():
            assert got.get(col) == typ, (
                f"{table}.{col}: normalized dtype {got.get(col)!r} != "
                f"{typ!r} — fixture drift past the adaptive readers "
                f"(tables.normalize_events_ts / load_table); update the "
                f"normalization, not the operators"
            )


def test_events_ts_physical_encoding_is_known(sf_dir):
    t = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
    assert t in PHYSICAL_TS_ENCODINGS, (
        f"events.ts physical type {t!r} is a NEW fixture generation — "
        f"extend tables.normalize_events_ts (batch+stream both route "
        f"through it) and add {t!r} here"
    )


def test_all_tables_present(sf_dir):
    import os

    missing = [
        t for t in TABLES if not os.path.exists(f"{sf_dir}/{t}.parquet")
    ]
    assert not missing, f"fixture tables missing from {sf_dir}: {missing}"


def test_event_times_are_in_fixture_era(spark, sf_dir):
    """The round-4 bug signature: a mis-decoded epoch lands in 1970.
    Batch and stream share normalize_events_ts, so checking batch here
    (cheap) plus the stream-equality pin in test_streaming.py covers
    both paths."""
    row = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi")
        .collect()[0]
    )
    assert row["lo"].year >= 2000, f"events.ts decoded into {row['lo']} — epoch-unit bug"
    assert row["hi"].year <= 2100


def test_spread_small_input_not_fooled_by_many_tiny_files(spark, tmp_path):
    """Round-6 advice: FileSourceScan bin-packs small files
    (cost = size + openCostInBytes into maxPartitionBytes bins), so a
    file count ≥ cores does NOT imply one scan task per core. An input
    of cores+ tiny files must still take the exact .rdd probe and get
    repartitioned, not short-circuit to a collapsed scan."""
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        spread_small_input,
    )

    target = spark.sparkContext.defaultParallelism
    n_files = target + 2  # above the naive file-count bar, tiny files
    base = spark.range(n_files).withColumn("v", F.col("id") * 2)
    base.repartition(n_files).write.mode("overwrite").parquet(
        str(tmp_path / "tiny")
    )
    df = spark.read.parquet(str(tmp_path / "tiny"))
    assert len(df.inputFiles()) >= target  # the naive check would pass
    scan_parts = df.rdd.getNumPartitions()
    spread = spread_small_input(df)
    assert spread.rdd.getNumPartitions() >= target
    if scan_parts < target:  # bin-packing collapsed the raw scan
        assert spread.rdd.getNumPartitions() > scan_parts
    # a non-scan frame lists no input files: the exact probe decides
    narrow = spark.range(10).coalesce(1)
    assert narrow.inputFiles() == []
    assert spread_small_input(narrow).rdd.getNumPartitions() == target


def test_bytes_conf_parses_units_and_falls_back(spark):
    """Both suffix forms parse; an unset key, an unparseable number and
    an unknown unit suffix each return the default."""
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        bytes_conf,
    )

    key = "spark.test.bytesConf"
    try:
        for raw, want in (
            ("1gb", 1 << 30), ("128m", 128 << 20), ("-1", -1),
            ("12xb", 7), ("12bk", 7),
        ):
            spark.conf.set(key, raw)
            assert bytes_conf(spark, key, 7) == want, raw
    finally:
        spark.conf.unset(key)
    assert bytes_conf(spark, key, 7) == 7
