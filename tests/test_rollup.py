"""X22 continuous-aggregate pins: partition-touch isolation, replay
idempotency, cascade correctness, compaction equivalence."""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import pytest

from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
    cascade_rollup,
    compact_rollup,
    read_rollup,
    refresh_rollup,
    rollup_partials,
)


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 3, d, h, mi), f"u{i % 3}", t, v)
            for i, (d, h, mi, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id string, event_type string, value double",
    )


def _snapshot(path):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def test_refresh_touches_only_its_partitions(spark, tmp_path):
    store = str(tmp_path / "store")
    day1 = [(1, 10, 0, "view", 1.0), (1, 10, 30, "click", 2.0)]
    day2 = [(2, 9, 0, "view", 3.0)]
    refresh_rollup(_events(spark, day1), store, batch_id=0)
    before = _snapshot(store)
    assert before, "batch 0 wrote files"
    # a later batch entirely inside day 2 must not rewrite day 1 bytes
    refresh_rollup(_events(spark, day2), store, batch_id=1)
    after = _snapshot(store)
    for f, mtime in before.items():
        assert after[f] == mtime, f"day-1 file rewritten: {f}"
    assert len(after) > len(before)


def test_concurrent_refreshes_distinct_ids(spark, tmp_path):
    """Round-15 pin for the parallel-delivery path q_rollup_incremental
    now uses: three deliveries with DISTINCT batch ids committed from
    concurrent threads must produce a store byte-equivalent (same
    cells, same merged reads) to the sequential application — each
    writer stages under its own uuid root and commits only its own
    ``(day, batch_id)`` cells, so concurrency is invisible."""
    import concurrent.futures as cf

    rows = [
        (d, h, 0, t, float(d * 10 + h))
        for d in (1, 2, 3)
        for h in (8, 9)
        for t in ("view", "click")
    ]
    feeds = [
        _events(spark, rows[0::3]),
        _events(spark, rows[1::3]),
        _events(spark, rows[2::3]),
    ]
    seq_store = str(tmp_path / "seq")
    for i, b in enumerate(feeds):
        refresh_rollup(b, seq_store, batch_id=i)
    conc_store = str(tmp_path / "conc")
    with cf.ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(refresh_rollup, b, conc_store, i)
            for i, b in enumerate(feeds)
        ]
        for f in futs:
            f.result()
    seq = sorted(map(tuple, read_rollup(spark, seq_store).collect()))
    conc = sorted(map(tuple, read_rollup(spark, conc_store).collect()))
    assert seq == conc
    # cell layout identical: same relative parquet dirs in both stores
    rel = lambda p, root: sorted(
        os.path.relpath(os.path.dirname(f), root)
        for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
    )
    assert rel(seq_store, seq_store) == rel(conc_store, conc_store)


def test_replay_same_batch_id_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    rows = [(1, 10, 0, "view", 1.0), (1, 11, 0, "view", 5.0)]
    refresh_rollup(_events(spark, rows), store, batch_id=0)
    once = sorted(map(tuple, read_rollup(spark, store).collect()))
    refresh_rollup(_events(spark, rows), store, batch_id=0)  # redelivery
    twice = sorted(map(tuple, read_rollup(spark, store).collect()))
    assert once == twice


def test_incremental_equals_full_recompute_with_late_data(spark, tmp_path):
    store = str(tmp_path / "store")
    rows = [
        (1, 10, 0, "view", 1.0),
        (1, 10, 45, "view", 3.0),
        (2, 9, 0, "click", 2.0),
        (3, 8, 15, "view", 7.0),
    ]
    all_ev = _events(spark, rows)
    # day-3 batch first, then day 1-2, then a LATE arrival into day 1's
    # 10:00 bucket — three refreshes against a store that already holds
    # newer data
    refresh_rollup(all_ev.filter("event_id = 3"), store, 0)
    refresh_rollup(all_ev.filter("event_id IN (0, 2)"), store, 1)
    refresh_rollup(all_ev.filter("event_id = 1"), store, 2)
    got = sorted(map(tuple, read_rollup(spark, store).collect()))
    # direct one-pass recompute
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        _finalize,
        _merge_partials,
    )

    direct = sorted(
        map(
            tuple,
            _finalize(
                _merge_partials(
                    rollup_partials(all_ev), F.col("bucket_start")
                )
            ).collect(),
        )
    )
    assert got == direct


def test_cascade_daily_equals_direct_daily(spark, tmp_path):
    store = str(tmp_path / "store")
    rows = [
        (1, 10, 0, "view", 1.0),
        (1, 22, 0, "view", 3.0),
        (2, 9, 0, "view", 2.0),
    ]
    all_ev = _events(spark, rows)
    refresh_rollup(all_ev.filter("event_id < 2"), store, 0)
    refresh_rollup(all_ev.filter("event_id >= 2"), store, 1)
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        _finalize,
        _merge_partials,
    )

    got = sorted(
        map(tuple, cascade_rollup(spark, store, "day").collect())
    )
    direct = sorted(
        map(
            tuple,
            _finalize(
                _merge_partials(
                    rollup_partials(all_ev, "day"), F.col("bucket_start")
                )
            ).collect(),
        )
    )
    assert got == direct


def test_compaction_preserves_reads_and_shrinks_store(spark, tmp_path):
    store = str(tmp_path / "store")
    rows = [(1, 10, i, "view", float(i)) for i in range(6)]
    ev = _events(spark, rows)
    for i in range(3):
        refresh_rollup(ev.filter(f"event_id % 3 = {i}"), store, i)
    before = sorted(map(tuple, read_rollup(spark, store).collect()))
    raw_rows_before = spark.read.parquet(store).count()
    compact_rollup(spark, store)
    after = sorted(map(tuple, read_rollup(spark, store).collect()))
    raw_rows_after = spark.read.parquet(store).count()
    assert before == after
    assert raw_rows_after < raw_rows_before  # 3 partials -> 1 per bucket
    # refresh keeps working against the compacted base
    refresh_rollup(
        _events(spark, [(2, 5, 0, "view", 9.0)]), store, 3
    )
    assert read_rollup(spark, store).filter(
        "event_type = 'view'"
    ).count() > 0


def test_streaming_foreachbatch_drives_refresh(spark, tmp_path):
    """X22 under its intended driver: a Structured Streaming
    foreachBatch loop (availableNow, maxFilesPerTrigger=1 so each file
    is one real micro-batch) calling refresh_rollup with the
    engine-provided batch_id. The resulting store must read identically
    to a one-shot batch rollup of the same events."""
    import datetime as dtm

    feed = str(tmp_path / "feed")
    store = str(tmp_path / "store")
    rows_a = [(0, dtm.datetime(2024, 3, 1, 10, 0), "u0", "view", 1.0)]
    rows_b = [
        (1, dtm.datetime(2024, 3, 1, 10, 30), "u1", "view", 3.0),
        (2, dtm.datetime(2024, 3, 2, 9, 0), "u0", "click", 2.0),
    ]
    schema = (
        "event_id long, ts timestamp, user_id string, "
        "event_type string, value double"
    )
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    sdf = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        sdf.writeStream.foreachBatch(
            lambda batch, bid: refresh_rollup(batch, store, batch_id=bid)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, read_rollup(spark, store).collect()))
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        _finalize,
        _merge_partials,
    )

    direct = sorted(
        map(
            tuple,
            _finalize(
                _merge_partials(
                    rollup_partials(spark.createDataFrame(rows_a + rows_b, schema)),
                    F.col("bucket_start"),
                )
            ).collect(),
        )
    )
    assert got == direct


def test_replay_after_compaction_does_not_double_count(spark, tmp_path):
    """At-least-once hazard the folded-watermark sidecar closes: batch
    N's write completes, compaction folds it into the batch_id=-1
    base, THEN the checkpoint-uncommitted batch N is redelivered. The
    redelivery must be skipped (its rows already live in the base);
    a genuinely new batch id past the watermark still applies."""
    store = str(tmp_path / "store")
    b0 = _events(spark, [(1, 10, 0, "view", 1.0)])
    b1 = _events(spark, [(1, 11, 0, "view", 5.0)])
    refresh_rollup(b0, store, batch_id=0)
    refresh_rollup(b1, store, batch_id=1)
    before = sorted(map(tuple, read_rollup(spark, store).collect()))
    compact_rollup(spark, store)
    refresh_rollup(b1, store, batch_id=1)  # redelivery of a folded batch
    after = sorted(map(tuple, read_rollup(spark, store).collect()))
    assert after == before
    refresh_rollup(
        _events(spark, [(2, 9, 0, "click", 2.0)]), store, batch_id=2
    )
    assert (
        read_rollup(spark, store).filter("event_type = 'click'").count() == 1
    )


def test_refresh_uses_dsv2_writer_and_cleans_staging(spark, tmp_path):
    """Round 8: the refresh path must actually go through the
    rollup_store DataSource V2 writer in this runtime (pyspark>=4) —
    otherwise every pin above silently exercises only the dynamic-
    overwrite fallback — and a completed write leaves no staging dirs
    behind in the store."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.rollup_store import (
        register_rollup_store,
    )

    assert register_rollup_store(spark)  # API present => DSv2 is the path
    store = str(tmp_path / "store")
    refresh_rollup(
        _events(spark, [(1, 10, 0, "view", 1.0), (2, 9, 0, "click", 2.0)]),
        store,
        batch_id=0,
    )
    leftovers = glob.glob(f"{store}/_staging_*")
    assert leftovers == []
    # layout is Spark-standard hive partitioning, partition-prunable
    assert glob.glob(f"{store}/day=2024-03-01/batch_id=0/*.parquet")
    assert glob.glob(f"{store}/day=2024-03-02/batch_id=0/*.parquet")
    got = sorted(
        map(tuple, read_rollup(spark, store).select("event_count").collect())
    )
    assert got == [(1,), (1,)]


def test_dsv2_replay_replaces_cell_files_exactly(spark, tmp_path):
    """A redelivered batch id replaces its OWN cell files (old files
    gone, new ones in) while the other batch's cells keep identical
    bytes — the per-cell commit contract."""
    store = str(tmp_path / "store")
    b0 = _events(spark, [(1, 10, 0, "view", 1.0)])
    b1 = _events(spark, [(1, 11, 0, "click", 2.0)])
    refresh_rollup(b0, store, batch_id=0)
    refresh_rollup(b1, store, batch_id=1)
    cell0_before = set(glob.glob(f"{store}/day=2024-03-01/batch_id=0/*.parquet"))
    cell1_before = _snapshot(f"{store}/day=2024-03-01/batch_id=1")
    refresh_rollup(b0, store, batch_id=0)  # replay
    cell0_after = set(glob.glob(f"{store}/day=2024-03-01/batch_id=0/*.parquet"))
    assert cell0_before.isdisjoint(cell0_after)  # old files replaced
    assert _snapshot(f"{store}/day=2024-03-01/batch_id=1") == cell1_before
    assert read_rollup(spark, store).count() == 2


# --- X34: snapshot-isolated reads under concurrent delivery ---------------


def test_snapshot_read_hides_torn_delivery(spark, tmp_path):
    """A delivery caught mid-commit (cells moved, marker not yet
    written) is INVISIBLE to snapshot reads and half-visible to naive
    ones — the isolation the `_commits` log exists to provide."""
    import shutil

    from custom_python_etl_data_connector_shivaask_username_spark.sources.rollup_store import (
        COMMITS_DIR,
        committed_epochs,
    )

    store = str(tmp_path / "store")
    refresh_rollup(
        _events(spark, [(1, 10, 0, "view", 1.0)]), store, batch_id=0
    )
    refresh_rollup(
        _events(spark, [(2, 9, 0, "view", 3.0)]), store, batch_id=1
    )
    assert committed_epochs(store) == [0, 1]
    committed = sorted(
        map(tuple, read_rollup(spark, store, snapshot=True).collect())
    )
    assert committed == sorted(
        map(tuple, read_rollup(spark, store).collect())
    )
    # simulate epoch 2 mid-commit: a cell dir appears, no marker yet
    src = glob.glob(f"{store}/day=*/batch_id=0/*.parquet")[0]
    torn = f"{store}/day=2024-03-01/batch_id=2"
    os.makedirs(torn)
    shutil.copy(src, f"{torn}/part-torn.snappy.parquet")
    naive = sorted(map(tuple, read_rollup(spark, store).collect()))
    snap = sorted(
        map(tuple, read_rollup(spark, store, snapshot=True).collect())
    )
    assert naive != committed, "torn files must perturb the naive read"
    assert snap == committed, "snapshot read saw a torn delivery"
    # once the marker lands the epoch becomes visible atomically
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        fs_write_text,
    )

    fs_write_text(spark, f"{store}/{COMMITS_DIR}/2", '{"batch_id": 2}')
    assert sorted(
        map(tuple, read_rollup(spark, store, snapshot=True).collect())
    ) == naive


def test_replay_retracts_marker_before_cell_replacement(spark, tmp_path):
    """A REPLAYED epoch (crash after commit, checkpoint not advanced)
    re-enters the delete-then-move window — its surviving marker must
    be retracted first so snapshot reads exclude the epoch mid-replace
    instead of trusting a marker over torn cells; the replay re-logs
    it once every cell has landed."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.rollup_store import (
        committed_epochs,
        retract_commit_marker,
    )

    store = str(tmp_path / "store")
    rows = [(1, 10, 0, "view", 1.0), (2, 11, 0, "click", 2.0)]
    refresh_rollup(_events(spark, rows), store, batch_id=0)
    refresh_rollup(_events(spark, rows), store, batch_id=1)
    assert committed_epochs(store) == [0, 1]
    base = sorted(map(tuple, read_rollup(spark, store).collect()))
    # the retraction the replay performs first: epoch 1 leaves the
    # snapshot view (falls back to committed state without it)...
    retract_commit_marker(store, 1)
    assert committed_epochs(store) == [0]
    retract_commit_marker(store, 1)  # idempotent
    # ...and a full replayed delivery restores marker AND content
    refresh_rollup(_events(spark, rows), store, batch_id=1)
    assert committed_epochs(store) == [0, 1]
    assert (
        sorted(
            map(
                tuple,
                read_rollup(spark, store, snapshot=True).collect(),
            )
        )
        == base
    )


def test_snapshot_read_after_compaction_and_new_batches(spark, tmp_path):
    """Compaction folds marked batches into the base (markers die with
    the swap); snapshot reads then see base + any newer markers —
    never a double count."""
    store = str(tmp_path / "store")
    rows0 = [(1, 10, 0, "view", 1.0), (1, 11, 0, "click", 2.0)]
    rows1 = [(2, 9, 0, "view", 3.0)]
    refresh_rollup(_events(spark, rows0), store, batch_id=0)
    refresh_rollup(_events(spark, rows1), store, batch_id=1)
    compact_rollup(spark, store)
    rows2 = [(3, 8, 0, "view", 7.0)]
    refresh_rollup(_events(spark, rows2), store, batch_id=2)
    direct = sorted(
        map(
            tuple,
            read_rollup(spark, store).collect(),
        )
    )
    snap = sorted(
        map(tuple, read_rollup(spark, store, snapshot=True).collect())
    )
    assert snap == direct
    # and the totals equal a one-pass recompute over all events
    allrows = _events(spark, rows0 + rows1 + rows2)
    want = sorted(
        map(
            tuple,
            allrows.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("event_count"))
            .select("window_start", "event_type", "event_count")
            .collect(),
        )
    )
    got = [
        (r[0], r[1], r[2])
        for r in sorted(
            map(
                tuple,
                read_rollup(spark, store, snapshot=True)
                .select("window_start", "event_type", "event_count")
                .collect(),
            )
        )
    ]
    assert got == want


def _planted_feed(spark, n=60_000):
    """Two hours x three types, values uniform on [-200, 800) with a
    NULL every 41st row — wide enough for meaningful percentiles."""
    return spark.range(0, n).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") % 7200).cast("int"))
        ).alias("ts"),
        F.concat(F.lit("u"), (F.col("id") % 3).cast("string")).alias(
            "user_id"
        ),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        F.when(F.col("id") % 41 == 0, None)
        .otherwise((F.col("id") % 1000).cast("double") - 200.0)
        .alias("value"),
    )


def test_quantile_partials_round_trip_and_error_band(spark, tmp_path):
    """Round 10 (verdict ask #3): the qhist quantile partial survives
    the store round-trip, merges across any batch split to IDENTICAL
    percentiles, serves the hour→day cascade without raw rescans, and
    stays inside the documented relative-error band
    (2^(1/(2·QHIST_K))−1 ≈ 2.2%, pinned at ≤3% for slack on the
    interpolating exact comparator)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        rollup_quantiles,
    )

    ev = _planted_feed(spark)
    one = str(tmp_path / "one")
    split = str(tmp_path / "split")
    refresh_rollup(ev, one, batch_id=0)
    for i in range(3):  # arbitrary split: partials must merge the same
        refresh_rollup(ev.filter(F.col("event_id") % 3 == i), split, i)
    qs = [0.5, 0.9, 0.99]
    got_one = sorted(
        map(tuple, rollup_quantiles(spark, one, qs).collect())
    )
    got_split = sorted(
        map(tuple, rollup_quantiles(spark, split, qs).collect())
    )
    assert got_one == got_split  # merge-invariance: the partials are real
    assert got_one, "expected quantile rows"

    def assert_in_band(served, events):
        exact = {
            (r["w"], r["event_type"], q): r["v"]
            for q in qs
            for r in events.groupBy(
                F.date_trunc("hour", "ts").alias("w"), "event_type"
            )
            .agg(F.expr(f"percentile(value, {q})").alias("v"))
            .collect()
        }
        for w, t, q, v in served:
            e = exact[(w, t, q)]
            assert abs(v - e) / max(abs(e), 1.0) <= 0.03, (w, t, q, v, e)

    assert_in_band(got_one, ev)
    # mixed-sign fractional cells (values in [-1.5, 0.5) at 0.005
    # grain, zero included): |v| < 1 is where the key's octave goes
    # negative, so the value order must still cross the sign classes
    frac = str(tmp_path / "frac")
    evf = spark.range(0, 20_000).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") % 3600).cast("int"))
        ).alias("ts"),
        F.lit("u0").alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias(
            "event_type"
        ),
        ((F.col("id") % 400).cast("double") / 200.0 - 1.5).alias("value"),
    )
    refresh_rollup(evf, frac, batch_id=0)
    frac_got = rollup_quantiles(spark, frac, qs).collect()
    assert any(r["value"] < 0 for r in frac_got) and any(
        0 < r["value"] < 1 for r in frac_got
    ), "fixture must exercise fractional mixed-sign percentiles"
    assert_in_band([tuple(r) for r in frac_got], evf)

    # the cascade: day-resolution quantiles from the same stored
    # partials equal quantiles of a store built at day grain directly
    day_store = str(tmp_path / "day")
    refresh_rollup(ev, day_store, batch_id=0, resolution="day")
    assert sorted(
        map(
            tuple,
            rollup_quantiles(spark, one, qs, resolution="day").collect(),
        )
    ) == sorted(
        map(
            tuple,
            rollup_quantiles(
                spark, day_store, qs, resolution="day"
            ).collect(),
        )
    )
    # round 11 (advisory): serving FINER than the stored grain used to
    # silently return stored-grain windows labeled as finer ones — the
    # default resolution="hour" on this day-grain store now refuses
    with pytest.raises(ValueError, match="finer"):
        rollup_quantiles(spark, day_store, qs)
    with pytest.raises(ValueError, match="finer"):
        cascade_rollup(spark, day_store, resolution="minute").collect()
    # refusing a mixed-grain delivery into an existing store
    with pytest.raises(ValueError, match="grain"):
        refresh_rollup(ev, day_store, batch_id=99, resolution="hour")

    # compaction folds qhist equivalently, and read_rollup's public
    # schema is unchanged by the new partial column
    before = sorted(map(tuple, rollup_quantiles(spark, one, qs).collect()))
    compact_rollup(spark, one)
    assert (
        sorted(map(tuple, rollup_quantiles(spark, one, qs).collect()))
        == before
    )
    assert read_rollup(spark, one).columns == [
        "window_start",
        "event_type",
        "event_count",
        "total_value",
        "avg_value",
        "min_value",
        "max_value",
    ]

    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fractions"):
        rollup_quantiles(spark, one, [1.5])


def test_qhist_key_cross_engine_parity_on_boundary_doubles(spark):
    """Round-10 review finding made a pin: the Spark and numpy/Arrow
    qhist key computations must agree BIT-EXACTLY — transcendental
    formulas measurably do not (JVM vs libm log2 disagreed on 4,765 of
    51,205 boundary-adjacent doubles), which is why the key is derived
    from exact octave extraction + shared threshold comparisons. This
    scans doubles within a few ulps of every bucket boundary 2^(i/16)
    plus randoms, zeros, and extremes."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        QHIST_K,
        QHIST_OCT,
        QHIST_THRESHOLDS,
        QHIST_ZERO_KEY,
        _qhist_key,
    )

    cands = []
    for m in range(-1024, 1025, 1):  # boundaries across ±64 octaves
        t = 2.0 ** (m / 16.0)
        x = t
        for _ in range(2):
            x = np.nextafter(x, -np.inf)
        for _ in range(4):
            cands.append(float(x))
            cands.append(float(-x))
            x = np.nextafter(x, np.inf)
    rng = np.random.default_rng(7)
    cands += [float(x) for x in rng.uniform(-1e9, 1e9, 4000)]
    cands += [0.0, -0.0, 1e300, -1e300, 1e-300, 5e-324]
    cands = sorted(set(cands))

    df = spark.createDataFrame([(v,) for v in cands], "v double")
    spark_keys = {
        r["v"]: r["k"]
        for r in df.select("v", _qhist_key("v").alias("k")).collect()
    }
    thr = np.array(QHIST_THRESHOLDS)
    v = np.array(cands)
    av = np.clip(np.abs(v), 2.0 ** -QHIST_OCT, 2.0 ** QHIST_OCT)
    frac, ex = np.frexp(av)
    key16 = QHIST_K * (ex.astype(np.int64) - 1) + np.searchsorted(
        thr, frac * 2.0, side="right"
    )
    idx = np.where(v > 0, 2 * key16, 2 * key16 + 1)
    idx = np.where(v == 0, QHIST_ZERO_KEY, idx)
    bad = [
        (float(vv), spark_keys[float(vv)], int(ii))
        for vv, ii in zip(v, idx)
        if spark_keys[float(vv)] != int(ii)
    ]
    assert bad == [], bad[:5]


def test_mixed_legacy_store_refused_and_compaction_degrades(spark, tmp_path):
    """Round-10 review finding: a store mixing pre-qhist (legacy)
    batches with current ones must not silently serve percentiles that
    exclude the legacy events. rollup_quantiles refuses loudly;
    compact_rollup folds counts/sums correctly but DROPS the partial
    histogram (the compacted store degrades to pre-round-10 semantics
    and quantile reads keep raising a clear error); read_rollup is
    unaffected throughout."""
    import pytest as _pytest

    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        rollup_partials,
        rollup_quantiles,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        overwrite_partitions,
    )

    store = str(tmp_path / "mixed")
    ev = _planted_feed(spark, 5_000)
    # a "legacy" delivery: identical partials minus the qhist column
    legacy = (
        rollup_partials(ev.filter(F.col("event_id") % 2 == 0))
        .drop("qhist")
        .withColumn("batch_id", F.lit(0))
    )
    overwrite_partitions(legacy, store, ["day", "batch_id"])
    refresh_rollup(ev.filter(F.col("event_id") % 2 == 1), store, 1)

    with _pytest.raises(ValueError, match="mixes pre-round-10"):
        rollup_quantiles(spark, store, [0.5])
    # counts/sums are unaffected by the mix
    want = sorted(
        map(
            tuple,
            ev.groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            read_rollup(spark, store)
            .select("window_start", "event_type", "event_count")
            .collect(),
        )
    )
    assert got == want
    compact_rollup(spark, store)
    assert "qhist" not in spark.read.parquet(store).columns
    with _pytest.raises(ValueError, match="no quantile partials"):
        rollup_quantiles(spark, store, [0.5])
    got2 = sorted(
        map(
            tuple,
            read_rollup(spark, store)
            .select("window_start", "event_type", "event_count")
            .collect(),
        )
    )
    assert got2 == want


def test_snapshot_quantiles_ignore_uncommitted_legacy_delivery(
    spark, tmp_path, monkeypatch
):
    """Round 11 (advisory): the qhist coverage audit is scoped to the
    SNAPSHOT-VISIBLE file set when snapshot=True — an uncommitted (torn)
    legacy no-qhist delivery must not permanently block snapshot
    quantile reads whose rows it never serves. Pre-fix, the audit read
    every data file and refused 'mixed'. Also pins the per-file footer
    cache: a second call must not re-open any footer (file paths are
    immutable in this store's write protocols)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators import rollup as R
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        rollup_quantiles,
    )

    store = str(tmp_path / "store")
    rows = [(1, 10, 0, "view", float(v)) for v in range(20)]
    refresh_rollup(_events(spark, rows), store, batch_id=0)  # committed

    # a torn LEGACY delivery: pre-round-10 partials (no qhist column)
    # with NO commit marker, under batch_id=-5 so its file SORTS FIRST
    # in the store listing — round-11 review finding: a full-store
    # read's single-footer schema inference then lands on the legacy
    # footer and hides qhist from the whole snapshot; the path-scoped
    # snapshot read must never see the excluded directory at all
    legacy = (
        rollup_partials(_events(spark, [(2, 9, 0, "view", 5.0)]))
        .drop("qhist")
        .withColumn("batch_id", F.lit(-5))
    )
    legacy.write.mode("append").partitionBy("day", "batch_id").parquet(store)

    # full-store audit still refuses loudly (cnt/sum would cover the
    # legacy rows but the histogram would exclude them)
    with pytest.raises(ValueError, match="mixes"):
        rollup_quantiles(spark, store, [0.5])
    # the snapshot never serves batch 7 (no marker) -> quantiles serve
    got = rollup_quantiles(spark, store, [0.5], snapshot=True).collect()
    assert got, "snapshot quantiles should serve the committed batch"

    # footer-cache pin: poison the footer parser; the re-audit must
    # succeed purely from the per-path cache (no footer re-parses —
    # the cache check precedes the open in _qhist_coverage)
    import pyarrow.parquet as pq

    def boom(*a, **k):
        raise AssertionError("footer re-parsed despite cache")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    got2 = rollup_quantiles(spark, store, [0.5], snapshot=True).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got))
    assert R._QHIST_FOOTER_CACHE  # the cache is the mechanism


def test_record_resolution_first_write_is_create_exclusive(spark, tmp_path):
    """Round-12 advice pin: two concurrent FIRST deliveries at
    different grains must not silently install last-writer-wins — the
    sidecar write is create-exclusive, and the create-race loser
    re-reads the winner's grain and verifies. Simulated race: the
    loser's pre-check reads None (stale), but the winner's sidecar is
    already on disk when the loser's exclusive create runs."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.rollup as R
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        fs_write_text_exclusive,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    side = R._resolution_sidecar_path(store)

    # the exclusive primitive: first create wins, second refuses
    assert fs_write_text_exclusive(spark, side, '{"resolution": "hour"}')
    assert not fs_write_text_exclusive(
        spark, side, '{"resolution": "minute"}'
    )
    assert R.stored_resolution(spark, store) == "hour"

    # race loser at the SAME grain: verify-equal, quiet success
    reads = []
    orig = R.stored_resolution

    def stale_then_real(sp, p):
        reads.append(1)
        return None if len(reads) == 1 else orig(sp, p)

    try:
        R.stored_resolution = stale_then_real
        R.record_resolution(spark, store, "hour")
    finally:
        R.stored_resolution = orig
    assert len(reads) == 2  # lost the create race, re-read to verify

    # race loser at a DIFFERENT grain: loud refusal, winner intact
    reads.clear()
    try:
        R.stored_resolution = stale_then_real
        with pytest.raises(ValueError, match="refusing"):
            R.record_resolution(spark, store, "minute")
    finally:
        R.stored_resolution = orig
    assert R.stored_resolution(spark, store) == "hour"


def test_stored_resolution_waits_out_a_concurrent_first_write(
    spark, tmp_path, monkeypatch
):
    """The first writer creates the grain sidecar before it writes the
    content, so a concurrent reader can find it empty: the read must
    wait for the content, not fail to parse it. The writer starts
    filling the file (after ~50 ms) only once a read has seen it
    empty, so the race is hit on every run."""
    import threading

    import custom_python_etl_data_connector_shivaask_username_spark.operators.rollup as R

    store = str(tmp_path / "store")
    os.makedirs(store)
    side = R._resolution_sidecar_path(store)
    open(side, "w").close()  # created, not yet written

    def fill():
        time.sleep(0.05)
        with open(side, "w") as fh:
            fh.write('{"resolution": "hour"}')

    writer = threading.Thread(target=fill)
    real_read = R.fs_read_text

    def read_then_fill(sp, path):
        raw = real_read(sp, path)
        if not writer.is_alive() and not writer.ident:
            assert raw == "", "the first read must see the empty sidecar"
            writer.start()
        return raw

    monkeypatch.setattr(R, "fs_read_text", read_then_fill)
    try:
        assert R.stored_resolution(spark, store) == "hour"
    finally:
        if writer.ident:
            writer.join()


def test_quantile_snapshot_audit_and_read_share_one_keep_set(
    spark, tmp_path, monkeypatch
):
    """Round-12 advice pin: rollup_quantiles(snapshot=True) computes
    the visible-epoch set ONCE and hands it to both the qhist audit
    and the snapshot read — two independent computations let an epoch
    committed in between be served unaudited (a legacy no-qhist epoch
    landing in that window would silently contribute zero histogram
    rows instead of raising 'mixes')."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.rollup as R

    store = str(tmp_path / "store")
    refresh_rollup(
        _events(spark, [(1, 8, 0, "view", 1.0), (1, 8, 30, "click", 2.0)]),
        store,
        batch_id=0,
    )
    calls = []
    orig = R._visible_epochs

    def spy(sp, p):
        calls.append(1)
        return orig(sp, p)

    monkeypatch.setattr(R, "_visible_epochs", spy)
    got = R.rollup_quantiles(spark, store, [0.5], snapshot=True).collect()
    assert len(got) > 0
    assert len(calls) == 1, (
        "audit and read must share one visibility computation, "
        f"saw {len(calls)}"
    )
