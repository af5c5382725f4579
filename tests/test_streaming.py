"""Streaming unit tests: foreachBatch load loop (ST1), watermark late-data
drop (ST5), arbitrary stateful processing (ST7), checkpoint recovery
basics (ST10). Window/session/dedup/join semantics are oracle-checked via
the registry (test_oracle_queries)."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
    foreach_batch_load,
    stream_events,
    tumbling_counts,
)


def test_stream_batch_ts_range_agree(spark, sf_dir):
    """Regression pin for the round-4 defect: the streaming source must
    yield the SAME event times as the batch loader on the same fixture,
    whatever physical ts encoding the fixture generation uses (nanos-as-
    int64 vs native micros). A stale encoding assumption lands every
    event in Jan-1970; min/max equality catches any such drift."""
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        run_stream_to_df,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    stream_range = run_stream_to_df(
        stream_events(spark, sf_dir).selectExpr("CAST(ts AS TIMESTAMP_NTZ) AS ts")
    ).selectExpr("min(ts) AS lo", "max(ts) AS hi").collect()[0]
    batch_range = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi")
        .collect()[0]
    )
    assert stream_range["lo"] == batch_range["lo"]
    assert stream_range["hi"] == batch_range["hi"]
    assert batch_range["lo"].year >= 2020  # not compressed into 1970


def test_foreach_batch_connector_loop(spark, sf_dir, tmp_path):
    ev = stream_events(spark, sf_dir)
    foreach_batch_load(
        ev,
        "eventsapi",
        str(tmp_path),
        transform=lambda df: df.filter(F.col("event_type") != "error"),
    )
    out = spark.read.parquet(str(tmp_path / "eventsapi_raw"))
    assert out.count() > 0
    assert out.filter(F.col("event_type") == "error").count() == 0
    assert "_ingested_at" in out.columns and "_batch_id" in out.columns


def _write_stream_file(spark, rows, path):
    """Write one actual parquet FILE (not a directory) so the file-stream
    source treats each call as one discoverable input file."""
    import glob
    import shutil

    staging = path + "__staging"
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts BIGINT, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.move(part, path)
    shutil.rmtree(staging)


def _us(iso: str) -> int:
    return int(pd.Timestamp(iso).value)  # ns since epoch


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics pinned empirically: the watermark computed from
    batch N's max event time is committed at batch end and takes
    *filtering* effect from batch N+2 — so the late file arrives two
    batches after the fresh data that outdates it."""
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    # batch 0: fresh events at 12:00 → watermark 11:05 (committed at end)
    _write_stream_file(
        spark,
        [
            (1, _us("2024-01-01 12:00:00"), 1, "view", 1.0, "{}"),
            (2, _us("2024-01-01 12:05:00"), 1, "view", 1.0, "{}"),
        ],
        f"{input_dir}/f1.parquet",
    )
    time.sleep(1.1)  # file-stream ordering is by modification time
    # batch 1: fresh event — the batch-0 watermark becomes effective next
    _write_stream_file(
        spark,
        [(3, _us("2024-01-01 12:10:00"), 1, "view", 1.0, "{}")],
        f"{input_dir}/f2.parquet",
    )
    time.sleep(1.1)
    # batch 2: one event 4 hours LATE (08:00 < watermark 11:05) + one fresh
    _write_stream_file(
        spark,
        [
            (4, _us("2024-01-01 08:00:00"), 1, "view", 1.0, "{}"),
            (5, _us("2024-01-01 12:15:00"), 1, "view", 1.0, "{}"),
        ],
        f"{input_dir}/f3.parquet",
    )

    raw = (
        spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    agg = tumbling_counts(raw)
    name = "late_data_test"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    windows = {
        r["window"]["start"].hour for r in spark.table(name).collect()
    }
    assert 12 in windows  # fresh windows aggregated
    assert 8 not in windows  # the 08:00 late event was dropped by watermark


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """ST10: a restarted query resumes from the checkpoint — batch 2 sees
    only files that arrived after the first run committed its offsets."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_recovery")
    os.makedirs(input_dir)

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id BIGINT, ts BIGINT, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING"
            )
            .parquet(input_dir)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        q = (
            raw.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_stream_file(
        spark,
        [(1, _us("2024-01-01 10:00:00"), 1, "view", 1.0, "{}")],
        f"{input_dir}/f1.parquet",
    )
    run_once()
    first = spark.read.parquet(out_dir).count()
    assert first == 1

    time.sleep(1.1)
    _write_stream_file(
        spark,
        [(2, _us("2024-01-01 11:00:00"), 1, "click", 1.0, "{}")],
        f"{input_dir}/f2.parquet",
    )
    run_once()  # restart from the same checkpoint
    ids = sorted(
        r["event_id"] for r in spark.read.parquet(out_dir).collect()
    )
    # event 1 appears exactly once (not reprocessed), event 2 appended
    assert ids == [1, 2]


def test_stateful_funnel_applyinpandas(spark, tmp_path):
    """ST7: per-user funnel state machine via applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    _write_stream_file(
        spark,
        [
            (1, _us("2024-01-01 10:00:00"), 1, "view", 0.0, "{}"),
            (2, _us("2024-01-01 10:01:00"), 1, "click", 0.0, "{}"),
            (3, _us("2024-01-01 10:02:00"), 1, "purchase", 9.9, "{}"),
            (4, _us("2024-01-01 10:00:00"), 2, "view", 0.0, "{}"),
            (5, _us("2024-01-01 10:03:00"), 2, "click", 0.0, "{}"),
            (6, _us("2024-01-01 10:00:00"), 3, "error", 0.0, "{}"),
        ],
        f"{input_dir}/f1.parquet",
    )
    raw = (
        spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .parquet(input_dir)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )

    STAGES = ["view", "click", "purchase"]

    def funnel(key, pdfs, state: GroupState):
        seen = set(state.get[0].split(",")) if state.exists else set()
        for pdf in pdfs:
            seen.update(t for t in pdf["event_type"] if t in STAGES)
        state.update((",".join(sorted(seen)),))
        depth = 0
        for s in STAGES:
            if s in seen:
                depth += 1
            else:
                break
        yield pd.DataFrame(
            {"user_id": [key[0]], "funnel_depth": [depth]}
        )

    out = raw.groupBy("user_id").applyInPandasWithState(
        funnel,
        outputStructType="user_id BIGINT, funnel_depth INT",
        stateStructType="stages STRING",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "funnel_test"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    depths = {
        r["user_id"]: r["funnel_depth"] for r in spark.table(name).collect()
    }
    assert depths == {1: 3, 2: 2, 3: 0}


def test_idempotent_batch_sink_survives_redelivery(spark, sf_dir, tmp_path):
    """Re-delivering a batch id must not duplicate rows: the sink keys
    the physical partition on _batch_id and overwrites it."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        overwrite_partitions,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        foreach_batch_load_idempotent,
        stream_events,
    )

    base = str(tmp_path / "idem")
    path = foreach_batch_load_idempotent(
        stream_events(spark, sf_dir), "events", base
    )
    first = spark.read.parquet(path)
    n = first.count()
    batch_ids = [r["_batch_id"] for r in first.select("_batch_id").distinct().collect()]
    assert n > 0 and len(batch_ids) >= 1

    # simulate the failure path: the SAME batch (same id) delivered again
    redelivered = first.filter(F.col("_batch_id") == batch_ids[0]).drop("_batch_id")
    overwrite_partitions(
        redelivered.withColumn("_batch_id", F.lit(batch_ids[0])),
        path,
        ["_batch_id"],
    )
    assert spark.read.parquet(path).count() == n  # no duplication


def test_metrics_listener_captures_batches(spark, sf_dir):
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.metrics import (
        MetricsCollector,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        run_stream_to_df,
        stream_events,
    )

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        out = run_stream_to_df(
            stream_events(spark, sf_dir).groupBy("event_type").count(),
            output_mode="complete",
        )
        n_types = out.count()
        # listener events are delivered asynchronously on the event bus
        import time

        deadline = time.time() + 30
        while collector.total_rows() == 0 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(collector)
    assert n_types > 0
    assert collector.total_rows() > 0
    assert any(m.batch_duration_ms >= 0 for m in collector.metrics)


def test_multibatch_incremental_agg_equals_batch(spark, tmp_path):
    """The fixture oracles run availableNow over ONE file (a single
    micro-batch). This pin splits the real sf0.001 events table into 4
    files and streams them one micro-batch each (maxFilesPerTrigger=1):
    the incrementally-maintained tumbling aggregation must finish equal
    to the one-shot batch groupBy — state handoff across micro-batches,
    not just within one."""
    import glob
    import shutil

    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        run_stream_to_df,
        tumbling_counts,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        load_table,
        normalize_events_ts,
    )

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    in_dir = str(tmp_path / "in")
    staging = str(tmp_path / "staging")
    # 4 files, split by an id hash so every micro-batch spans the full
    # time range (worst case for watermark-ordered state: nothing is
    # droppable, every batch updates old windows)
    src.withColumn("_part", F.pmod(F.xxhash64("event_id"), F.lit(4))).repartition(
        4, "_part"
    ).drop("_part").write.parquet(staging)
    import os

    os.makedirs(in_dir)
    for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
        shutil.move(f, f"{in_dir}/f{i}.parquet")

    raw = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = run_stream_to_df(
        tumbling_counts(normalize_events_ts(raw, target="timestamp")),
        "complete",
    )
    got = {
        (r["window"]["start"], r["event_type"]): r["event_count"]
        for r in stream.collect()
    }
    expected = {
        (r["ws"], r["event_type"]): r["event_count"]
        for r in src.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .selectExpr("w.start AS ws", "event_type", "event_count")
        .collect()
    }
    assert len(got) > 100  # the sf0.001 fixture spans ~30 days of hours
    assert got == expected


def test_stream_upsert_cdc_apply(spark, tmp_path):
    """CDC apply: two micro-batches of row versions with overlapping
    keys converge the keyed table to last-writer-wins — within a batch
    the highest order_col version applies; across batches the later
    batch replaces the earlier."""
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        stream_upsert,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # batch 1: keys 1,2 (key 1 has two versions inside the batch)
    _write_stream_file(
        spark,
        [
            (10, _us("2024-01-01 10:00:00"), 1, "v1", 1.0, "{}"),
            (11, _us("2024-01-01 10:05:00"), 1, "v2", 2.0, "{}"),
            (12, _us("2024-01-01 10:00:00"), 2, "v1", 1.0, "{}"),
        ],
        f"{in_dir}/f1.parquet",
    )
    time.sleep(1.1)
    # batch 2: key 2 updated, key 3 inserted
    _write_stream_file(
        spark,
        [
            (20, _us("2024-01-01 11:00:00"), 2, "v2", 9.0, "{}"),
            (21, _us("2024-01-01 11:00:00"), 3, "v1", 5.0, "{}"),
        ],
        f"{in_dir}/f2.parquet",
    )
    raw = (
        spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    table = str(tmp_path / "entities")
    stream_upsert(
        raw, table, keys=["user_id"], order_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    rows = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in spark.read.parquet(table).collect()
    }
    assert rows == {
        1: ("v2", 2.0),  # in-batch latest version won
        2: ("v2", 9.0),  # later batch replaced earlier
        3: ("v1", 5.0),  # insert
    }


def test_stream_upsert_tied_versions_replay_stable(spark, tmp_path):
    """Two versions of one key with EQUAL order_col (same commit ts, a
    routine CDC shape): the winner must be content-deterministic so an
    at-least-once replay converges — two independent runs over the same
    input pick the identical survivor."""
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        stream_upsert,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_stream_file(
        spark,
        [
            (30, _us("2024-01-01 10:00:00"), 7, "left", 1.0, "{}"),
            (30, _us("2024-01-01 10:00:00"), 7, "right", 2.0, "{}"),
        ],
        f"{in_dir}/f1.parquet",
    )
    raw_schema = (
        "event_id BIGINT, ts BIGINT, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    winners = []
    for run in ("a", "b"):
        raw = spark.readStream.schema(raw_schema).parquet(in_dir)
        table = str(tmp_path / f"entities_{run}")
        stream_upsert(
            raw, table, keys=["user_id"], order_col="event_id",
            checkpoint_dir=str(tmp_path / f"ckpt_{run}"),
        )
        rows = spark.read.parquet(table).collect()
        assert len(rows) == 1
        winners.append((rows[0]["event_type"], rows[0]["value"]))
    assert winners[0] == winners[1]


def test_adaptive_state_partitions_sizing(spark, sf_dir):
    """Round 14: bounded replays size state partitions to the feed
    (ceil(bytes/32MB)) clamped to [floor, session conf]; a missing feed
    is an error, not a silent fallback to the floor."""
    from pyspark.errors import AnalysisException

    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        MIN_STATE_PARTITIONS,
        adaptive_state_partitions,
    )

    n = adaptive_state_partitions(spark, sf_dir)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert MIN_STATE_PARTITIONS <= n <= max(cap, MIN_STATE_PARTITIONS)
    with pytest.raises(AnalysisException):
        adaptive_state_partitions(spark, "/nonexistent/dir")


def test_adaptive_state_partitions_unknown_size_takes_floor(
    spark, sf_dir, monkeypatch
):
    """A feed whose scan size is unknown (`_scan_bytes` → None) sizes
    to the floor instead of failing on ``int(None)``."""
    from custom_python_etl_data_connector_shivaask_username_spark import tables
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        MIN_STATE_PARTITIONS,
        adaptive_state_partitions,
    )

    monkeypatch.setattr(tables, "_scan_bytes", lambda df: None)
    assert adaptive_state_partitions(spark, sf_dir) == MIN_STATE_PARTITIONS


def test_run_stream_restores_shuffle_conf(spark, sf_dir):
    """state_partitions is scoped to the one query: the session conf is
    restored after termination, and the result is unchanged."""
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.pipeline import (
        run_stream_to_df,
        stream_events,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    counts = (
        stream_events(spark, sf_dir).groupBy("event_type").count()
    )
    out = run_stream_to_df(counts, "complete", state_partitions=4)
    assert spark.conf.get(key) == before
    rows = {r["event_type"]: r["count"] for r in out.collect()}
    assert rows and all(v > 0 for v in rows.values())
