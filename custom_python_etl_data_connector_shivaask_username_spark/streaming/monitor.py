"""X49: per-epoch streaming monitor — drift + heavy hitters on the
rollup-store delivery path.

The reference's re-ingest loop audits what it loads (ingestion
timestamps + validation, reference README.md:29,32-34); round 9 made
both audit surfaces oracle-checked BATCH operators (X26 `drift_psi`,
X17 `heavy_hitters`). This module runs them CONTINUOUSLY: every
streaming epoch that delivers cells into the X22/X30 rollup store also
lands a monitor report — the epoch's value-distribution PSI against a
histogram frozen on a reference slice, plus its dominant event types —
as ``_monitor/<epoch>`` JSON right beside the ``_commits/<epoch>``
marker the delivery already writes. An operator reading the commit log
sees, for the same epoch id, both "the data landed" and "what the data
looked like".

Determinism contract: `drift_psi` is quantized-LN exact-decimal
(SURVEY §5.11), so the SAME slice delivered through the stream and
recomputed in batch yields the IDENTICAL psi — pinned stream==batch on
a planted drifting epoch. Replays are safe: a redelivered epoch
overwrites its own `_monitor/<epoch>` report with identical content
(the computation is deterministic in the slice).

100 TB shape: the monitor adds two bounded aggregations per epoch —
the PSI is one bucket-keyed count (n_buckets rows) and heavy hitters
one Misra-Gries pass + candidate-filtered exact verify — both
batch-sized map-side work with metadata-scale shuffles, nothing
proportional to store history.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import heavy_hitters
from ..operators.drift import drift_psi
from ..sources.layout import fs_read_text, fs_write_text

#: sidecar dir, sibling of the store's ``_commits/`` epoch log
MONITOR_DIR = "_monitor"

#: per-epoch served percentiles (X51×X30, round 11), sibling of both
QUANTILES_DIR = "_quantiles"


def serve_quantiles_epoch(
    spark: SparkSession,
    store_path: str,
    epoch: int,
    qs=(0.5, 0.9, 0.99),
    resolution: str = "hour",
) -> dict:
    """Serve the X51 quantile partials as a per-epoch REPORT beside the
    commit log (round-11 verdict ask #3): after an epoch's cells land,
    the store's accumulated histograms answer the requested percentiles
    once and the result persists as ``_quantiles/<epoch>`` — a
    percentile dashboard then reads epoch-fresh JSON without issuing a
    query, exactly like the X49 ``_monitor/<epoch>`` audit trail.

    The read is snapshot-isolated (only committed epochs), so calling
    this right after `refresh_rollup`'s commit marker serves exactly
    "the store as of this epoch"; a replayed epoch recomputes from the
    same committed state and overwrites its own report with identical
    content (pinned). Cost per epoch: one `rollup_quantiles` pass —
    cells × occupied-bucket rows, metadata-scale, independent of how
    many raw events the store has absorbed (the X51 contract; nothing
    here is ∝ history)."""
    from ..operators.rollup import rollup_quantiles

    rows = rollup_quantiles(
        spark, store_path, list(qs), resolution=resolution, snapshot=True
    ).collect()
    report = {
        "epoch": int(epoch),
        "resolution": resolution,
        "qs": [float(q) for q in qs],
        "cells": [
            {
                "window_start": str(r["window_start"]),
                "event_type": r["event_type"],
                "q": r["q"],
                "value": r["value"],
            }
            for r in rows
        ],
    }
    fs_write_text(
        spark,
        f"{store_path.rstrip('/')}/{QUANTILES_DIR}/{int(epoch)}",
        json.dumps(report),
    )
    return report


def read_quantile_reports(
    spark: SparkSession, store_path: str
) -> list[dict]:
    """All per-epoch quantile reports, ascending by epoch — the
    dashboard's no-query read path."""
    import pyarrow.fs as pafs

    from ..sources.rollup_store import _fs_and_path

    fs, store = _fs_and_path(store_path)
    infos = fs.get_file_info(
        pafs.FileSelector(
            f"{store}/{QUANTILES_DIR}", allow_not_found=True
        )
    )
    epochs = sorted(
        int(os.path.basename(i.path))
        for i in infos
        if i.is_file and os.path.basename(i.path).lstrip("-").isdigit()
    )
    out = []
    for e in epochs:
        raw = fs_read_text(
            spark, f"{store_path.rstrip('/')}/{QUANTILES_DIR}/{e}"
        )
        if raw is not None:
            out.append(json.loads(raw))
    return out


def monitor_epoch(
    batch: DataFrame,
    store_path: str,
    epoch: int,
    spec: dict,
    ref_shares: DataFrame,
    type_col: str = "event_type",
    k: int = 5,
) -> dict:
    """Audit ONE epoch's slice and persist the report beside the
    store's commit log. Returns the report dict:
    ``{epoch, psi, status, heavy: [{item, count}, ...]}``.

    ``spec``/``ref_shares`` come from `operators.drift.freeze_histogram`
    over the reference slice (typically the backfill / first healthy
    window); freezing is the caller's one-time act — per-epoch work
    never rescans the reference (``ref_shares`` is an n_buckets-row
    frame)."""
    row = drift_psi(batch.select(spec["col"]), spec, ref_shares).first()
    heavy = heavy_hitters(batch, type_col, k=k).collect()
    report = {
        "epoch": int(epoch),
        "psi": row["psi"],
        "status": row["status"],
        "heavy": [
            {"item": r["item"], "count": r["count"]} for r in heavy
        ],
        # round 14: the epoch's per-bucket COUNTS — exact-int mergeable
        # partials (n_buckets values) that let `rolling_reference`
        # rebuild a follow-the-healthy-past reference WITHOUT ever
        # rescanning raw epochs
        "buckets": _epoch_bucket_counts(batch, spec),
    }
    fs_write_text(
        batch.sparkSession,
        f"{store_path.rstrip('/')}/{MONITOR_DIR}/{int(epoch)}",
        json.dumps(report),
    )
    return report


def _epoch_bucket_counts(batch: DataFrame, spec: dict) -> list[int]:
    """Exact per-bucket counts of ``batch`` under the frozen ``spec``
    — n_buckets ints, the mergeable partial a rolling reference sums.
    One small aggregate; NULLs excluded exactly as `_bucket_shares`
    does, so merged shares reproduce the batch-equivalent shares
    bit-for-bit."""
    from ..operators.drift import _bucket_expr

    rows = batch.filter(F.col(spec["col"]).isNotNull())
    got = {
        r["bucket"]: r["c"]
        for r in rows.groupBy(_bucket_expr(spec).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    return [int(got.get(i, 0)) for i in range(spec["n_buckets"])]


def rolling_reference(
    spark: SparkSession,
    store_path: str,
    spec: dict,
    window: int = 8,
    statuses: tuple = ("stable",),
) -> DataFrame:
    """An INCREMENTAL drift reference (round 14 — the r13 close's
    monitor candidate): rebuild ``ref_shares`` from the last ``window``
    HEALTHY epochs' persisted bucket counts, so a long-running monitor
    follows legitimate slow drift instead of alarming against a
    forever-frozen baseline — while drifted/alarming epochs
    (status outside ``statuses``) never contaminate the reference.

    Metadata-scale by construction: the counts are n_buckets ints per
    report (written by `monitor_epoch` since round 14); no raw epoch
    is ever rescanned. Exactness: counts are exact ints and the share
    division is the same IEEE double op `_bucket_shares` performs, so
    PSI against a rolling reference is BIT-IDENTICAL to PSI against
    `freeze_histogram` shares recomputed over the same concatenated
    slices (pinned in tests/test_stream_monitor.py). Raises when no
    report carries counts (pre-round-14 trail or nothing healthy yet)
    — absence of a reference must be loud, not a silent all-stable."""
    reports = [
        r
        for r in read_monitor(spark, store_path)
        if r.get("buckets") is not None and r.get("status") in statuses
    ]
    if not reports:
        raise ValueError(
            f"no healthy epoch in {store_path!r} carries bucket counts "
            f"(statuses {statuses!r}) — freeze a reference explicitly "
            "or monitor at least one healthy epoch first"
        )
    n = int(spec["n_buckets"])
    sums = [0] * n
    for r in reports[-window:]:
        for i, c in enumerate(r["buckets"][:n]):
            sums[i] += int(c)
    total = sum(sums)
    if total == 0:
        raise ValueError(
            "the selected healthy epochs hold zero non-null rows — a "
            "reference of empty shares would mislabel everything"
        )
    return spark.createDataFrame(
        [(i, sums[i] / total) for i in range(n)],
        "bucket int, ref_share double",
    )


def read_monitor(spark: SparkSession, store_path: str) -> list[dict]:
    """All epoch reports, ascending by epoch — the audit trail twin of
    `sources.rollup_store.committed_epochs`."""
    import pyarrow.fs as pafs

    from ..sources.rollup_store import _fs_and_path

    fs, store = _fs_and_path(store_path)
    infos = fs.get_file_info(
        pafs.FileSelector(f"{store}/{MONITOR_DIR}", allow_not_found=True)
    )
    epochs = sorted(
        int(os.path.basename(i.path))
        for i in infos
        if i.is_file and os.path.basename(i.path).lstrip("-").isdigit()
    )
    out = []
    for e in epochs:
        raw = fs_read_text(spark, f"{store_path.rstrip('/')}/{MONITOR_DIR}/{e}")
        if raw is not None:
            out.append(json.loads(raw))
    return out


def stream_cells_monitored(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    spec: dict,
    ref_shares: DataFrame,
    resolution: str = "hour",
    type_col: str = "event_type",
    k: int = 5,
    available_now: bool = True,
    quantiles=None,
):
    """The monitored twin of `sources.rollup_store.stream_cells`: a
    ``foreachBatch`` loop where each epoch (1) delivers its rollup
    partials through `refresh_rollup` — same store layout, same
    ``_commits/<epoch>`` markers, same replay idempotency and
    folded-watermark protection — and (2) lands its monitor report via
    :func:`monitor_epoch`. Use this form when the audit must run in
    the ingest loop itself; the pure DSv2 sink (`stream_cells`) stays
    the zero-shuffle fast path when monitoring runs elsewhere (running
    Spark queries from inside a DSv2 commit callback is the wrong
    layer — the callback may execute in a fresh writer process with no
    session, so epoch-side serving lives in THIS loop by design).

    ``quantiles`` (round 11): a list of fractions arms
    :func:`serve_quantiles_epoch` after each delivery — the epoch's
    served percentiles land as ``_quantiles/<epoch>`` beside the
    commit marker and the monitor report."""
    from ..operators.rollup import refresh_rollup

    # materialize the tiny reference frame once: foreachBatch re-executes
    # its closure every epoch, and ref_shares' lineage may reach frames
    # a restarted stream no longer has
    ref_rows = ref_shares.collect()
    spark = stream.sparkSession
    ref_cached = spark.createDataFrame(ref_rows, ref_shares.schema)

    def handle(batch: DataFrame, epoch: int) -> None:
        refresh_rollup(batch, store_path, int(epoch), resolution)
        monitor_epoch(
            batch, store_path, int(epoch), spec, ref_cached, type_col, k
        )
        if quantiles:
            serve_quantiles_epoch(
                batch.sparkSession,
                store_path,
                int(epoch),
                qs=quantiles,
                resolution=resolution,
            )

    w = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    # availableNow parity with stream_cells (round-10 review finding):
    # the default used to be an unbounded ProcessingTime query that
    # never self-terminates — awaitTermination() could only time out
    # and the still-running query leaked past the caller
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
