"""X49 pins: the per-epoch streaming monitor — X26 drift PSI + X17
heavy hitters landing beside the rollup store's epoch commit log, with
stream==batch PSI equality on a planted drifting epoch."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.operators.drift import (
    freeze_histogram,
)
from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
    read_rollup,
    refresh_rollup,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.rollup_store import (
    committed_epochs,
)
from custom_python_etl_data_connector_shivaask_username_spark.streaming.monitor import (
    MONITOR_DIR,
    monitor_epoch,
    read_monitor,
    stream_cells_monitored,
)

_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id STRING, "
    "event_type STRING, value DOUBLE"
)


def _slice_df(spark, n, shift):
    """n events in one hour; value uniform on [shift, shift+1000) —
    shift>0 plants a distribution drift; view:click ≈ 4:1."""
    return spark.range(0, n).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") % 3600).cast("int"))
        ).alias("ts"),
        F.concat(F.lit("u"), (F.col("id") % 3).cast("string")).alias(
            "user_id"
        ),
        F.when(F.col("id") % 5 == 0, F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("event_type"),
        ((F.col("id") % 1000).cast("double") + shift).alias("value"),
    )


def _write_one_file(df, path):
    staging = path + "__staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    shutil.move(glob.glob(f"{staging}/part-*.parquet")[0], path)
    shutil.rmtree(staging)


def test_monitored_stream_equals_batch_and_lands_beside_commits(
    spark, tmp_path
):
    """The planted second epoch drifts (+700 shift); through the
    monitored stream loop each epoch's report lands as
    `_monitor/<epoch>` beside `_commits/<epoch>`, the stream-computed
    PSI equals a batch recomputation EXACTLY (quantized-LN doctrine),
    heavy hitters carry exact counts, and the rollup delivery itself
    is untouched (store reads back as the direct GROUP BY)."""
    slices = [_slice_df(spark, 8_000, 0.0), _slice_df(spark, 8_000, 700.0)]
    spec, ref_shares = freeze_histogram(
        slices[0].select("value"), "value", n_buckets=10
    )

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for i, df in enumerate(slices):
        _write_one_file(df, f"{input_dir}/slice-{i}.parquet")
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = stream_cells_monitored(
        stream, store, str(tmp_path / "cp"), spec, ref_shares, k=2
    )
    q.awaitTermination(120)

    # the audit trail sits beside the commit log, one report per epoch
    assert committed_epochs(store) == [0, 1]
    # (skip Hadoop local-FS `.N.crc` checksum siblings)
    assert sorted(
        f
        for f in os.listdir(f"{store}/{MONITOR_DIR}")
        if not f.startswith(".")
    ) == ["0", "1"]
    reports = read_monitor(spark, store)
    assert [r["epoch"] for r in reports] == [0, 1]
    # epoch 0 is the reference distribution; epoch 1 is planted drift
    assert reports[0]["status"] == "stable", reports[0]
    assert reports[1]["status"] in ("drifting", "action"), reports[1]
    assert reports[1]["psi"] > reports[0]["psi"]
    # heavy hitters: exact counts, dominant type first
    assert reports[0]["heavy"][0] == {"item": "view", "count": 6_400}
    assert reports[0]["heavy"][1] == {"item": "click", "count": 1_600}

    # stream == batch: the same slices recomputed through the batch
    # monitor into a second store yield IDENTICAL reports
    batch_store = str(tmp_path / "batch_store")
    for i, df in enumerate(slices):
        refresh_rollup(df, batch_store, batch_id=i)
        got = monitor_epoch(df, batch_store, i, spec, ref_shares, k=2)
        assert got == reports[i], (got, reports[i])
    assert read_monitor(spark, batch_store) == reports

    # and the delivery itself is the ordinary rollup contract: the
    # monitored store reads back as a one-pass GROUP BY over the union
    want = sorted(
        map(
            tuple,
            slices[0]
            .unionByName(slices[1])
            .groupBy(
                F.date_trunc("hour", "ts").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect(),
        )
    )
    got_rollup = sorted(
        map(
            tuple,
            read_rollup(spark, store)
            .select("window_start", "event_type", "event_count")
            .collect(),
        )
    )
    assert got_rollup == want

    # replay safety: redelivering epoch 1's slice overwrites its own
    # report with identical content
    monitor_epoch(slices[1], store, 1, spec, ref_shares, k=2)
    assert read_monitor(spark, store) == reports


def test_quantile_reports_land_per_epoch_and_match_batch(spark, tmp_path):
    """Round-11 verdict ask #3 (X51×X30): with `quantiles` armed, every
    monitored epoch also lands `_quantiles/<epoch>` beside the commit
    marker — the percentile dashboard's no-query read. Pins: the
    streamed reports equal a batch-fed twin EXACTLY; the final report
    equals a live rollup_quantiles query on the same store (the JSON
    is the query, one epoch earlier); epoch 0's report reflects only
    epoch 0's data (epoch-fresh, snapshot-isolated); and a replayed
    epoch overwrites its own report with identical content."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        rollup_quantiles,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.monitor import (
        QUANTILES_DIR,
        read_quantile_reports,
        serve_quantiles_epoch,
    )

    slices = [_slice_df(spark, 6_000, 0.0), _slice_df(spark, 6_000, 700.0)]
    spec, ref_shares = freeze_histogram(
        slices[0].select("value"), "value", n_buckets=10
    )
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for i, df in enumerate(slices):
        _write_one_file(df, f"{input_dir}/slice-{i}.parquet")
    store = str(tmp_path / "store")
    qs = [0.5, 0.9]
    q = stream_cells_monitored(
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir),
        store,
        str(tmp_path / "cp"),
        spec,
        ref_shares,
        k=2,
        quantiles=qs,
    )
    q.awaitTermination(120)

    assert sorted(
        f
        for f in os.listdir(f"{store}/{QUANTILES_DIR}")
        if not f.startswith(".")
    ) == ["0", "1"]
    reports = read_quantile_reports(spark, store)
    assert [r["epoch"] for r in reports] == [0, 1]

    # stream == batch: the same slices through refresh_rollup +
    # serve_quantiles_epoch land IDENTICAL reports
    batch_store = str(tmp_path / "batch_store")
    for i, df in enumerate(slices):
        refresh_rollup(df, batch_store, batch_id=i)
        got = serve_quantiles_epoch(spark, batch_store, i, qs=qs)
        assert got == reports[i], (got, reports[i])

    # the dashboard JSON is the query: the last report equals a live
    # rollup_quantiles run over the full store
    live = [
        {
            "window_start": str(r["window_start"]),
            "event_type": r["event_type"],
            "q": r["q"],
            "value": r["value"],
        }
        for r in rollup_quantiles(spark, store, qs, snapshot=True).collect()
    ]
    assert reports[1]["cells"] == live

    # epoch-fresh: epoch 0's report is the store as of epoch 0 only —
    # the drifted slice (+700) must not appear in its values
    v0 = {c["value"] for c in reports[0]["cells"]}
    v1 = {c["value"] for c in reports[1]["cells"]}
    assert v0 != v1
    store0 = str(tmp_path / "only0")
    refresh_rollup(slices[0], store0, batch_id=0)
    only0 = serve_quantiles_epoch(spark, store0, 0, qs=qs)
    assert only0["cells"] == reports[0]["cells"]

    # replay: redelivering epoch 1's report overwrites identically
    serve_quantiles_epoch(spark, store, 1, qs=qs)
    assert read_quantile_reports(spark, store) == reports


def test_rolling_reference_tracks_healthy_epochs(spark, tmp_path):
    """Round 14: the rolling reference rebuilds ref_shares from the
    persisted per-epoch bucket counts of HEALTHY epochs only — PSI
    against it is bit-identical to PSI against freeze_histogram shares
    recomputed over the same concatenated slices, drifted epochs never
    contaminate it, and slow legitimate drift stops alarming once the
    reference follows."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.drift import (
        drift_psi,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.monitor import (
        rolling_reference,
    )

    store = str(tmp_path / "store")
    ref = _slice_df(spark, 4000, 0)
    spec, frozen = freeze_histogram(ref, "value", n_buckets=10)

    # three healthy epochs near the reference, one hard-drifted epoch
    slices = {
        0: _slice_df(spark, 3000, 0),
        1: _slice_df(spark, 3000, 30),
        2: _slice_df(spark, 3000, 60),
        3: _slice_df(spark, 3000, 5000),  # action-grade drift
    }
    for e, df in slices.items():
        monitor_epoch(df, store, e, spec, frozen)
    reports = {r["epoch"]: r for r in read_monitor(spark, store)}
    assert all("buckets" in r for r in reports.values())
    assert reports[3]["status"] == "action"
    healthy = [e for e in (0, 1, 2) if reports[e]["status"] == "stable"]
    assert healthy, reports

    roll = rolling_reference(spark, store, spec, window=8)
    # bit-identical to freezing over the same concatenated slices
    concat = slices[healthy[0]]
    for e in healthy[1:]:
        concat = concat.unionByName(slices[e])
    _, recomputed = freeze_histogram(concat, "value", n_buckets=10)
    # NB freeze_histogram would re-derive lo/hi; shares must come from
    # the SAME spec, so compare via _bucket_shares under `spec`
    from custom_python_etl_data_connector_shivaask_username_spark.operators.drift import (
        _bucket_shares,
    )

    want = {
        r["bucket"]: r["ref_share"]
        for r in _bucket_shares(concat, spec, "ref_share").collect()
    }
    got = {r["bucket"]: r["ref_share"] for r in roll.collect()}
    assert got == want, (got, want)

    # the drifted epoch still alarms against the rolling reference...
    row = drift_psi(slices[3].select("value"), spec, roll).first()
    assert row["status"] == "action"
    # ...and a new epoch NEAR the recent healthy past reads stable
    # against the rolling reference
    row2 = drift_psi(
        _slice_df(spark, 3000, 45).select("value"), spec, roll
    ).first()
    assert row2["status"] == "stable"


def test_rolling_reference_refuses_without_counts(spark, tmp_path):
    from custom_python_etl_data_connector_shivaask_username_spark.streaming.monitor import (
        rolling_reference,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rolling_reference(
            spark, str(tmp_path / "empty"), {"n_buckets": 10}
        )
