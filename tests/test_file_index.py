"""X40 pins: footer-only distributed index build, provably-safe file
pruning (never loses rows — equality vs the unpruned filtered scan on
every predicate shape), layout-proportional skipping, append-staleness
conservatism, and the no-index fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
    build_file_index,
    prune_files,
    read_file_index,
    read_pruned,
)


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    """32 range-sorted files over value 0..31999 — the layout where
    file skipping bites hardest."""
    path = str(tmp_path_factory.mktemp("fidx") / "t")
    (
        spark.range(0, 32_000)
        .select(
            F.col("id").alias("value"),
            (F.col("id") % 97).alias("tag"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       (F.col("id") / 1000).cast("int")).alias("d"),
        )
        .repartitionByRange(32, "value")
        .write.parquet(path)
    )
    idx = build_file_index(spark, path)
    return path, idx


def test_index_build_and_sidecar(spark, indexed):
    path, idx = indexed
    assert len(idx["files"]) == 32
    assert sum(e["rows"] for e in idx["files"]) == 32_000
    # sidecar round-trips and is invisible to the parquet reader
    back = read_file_index(spark, path)
    assert len(back["files"]) == 32
    assert spark.read.parquet(path).count() == 32_000


def test_pruned_scan_equals_full_filtered_scan(spark, indexed):
    path, _ = indexed
    full = spark.read.parquet(path)
    for lo, hi, eq in [
        (1000, 1999, None),       # one-file slice
        (None, 500, None),        # open left
        (31_000, None, None),     # open right
        (None, None, 12_345),     # point
        (40_000, 50_000, None),   # disjoint: zero files, zero rows
    ]:
        pruned = read_pruned(spark, path, "value", lo, hi, eq)
        cond = F.lit(True)
        if eq is not None:
            cond = F.col("value") == eq
        else:
            if lo is not None:
                cond &= F.col("value") >= lo
            if hi is not None:
                cond &= F.col("value") <= hi
        expect = sorted(r["value"] for r in full.filter(cond).collect())
        got = sorted(r["value"] for r in pruned.collect())
        assert got == expect, (lo, hi, eq)


def test_pruning_bites_on_sorted_layout(spark, indexed):
    path, idx = indexed
    # a 1/32 slice touches a handful of files on the range-sorted
    # layout (repartitionByRange boundaries are sampled, so not
    # exactly one file per 1000 values — the pin is the ORDER of
    # magnitude: a few files, not all 32)
    survivors = prune_files(idx, "value", lo=1000, hi=1999)
    assert len(survivors) <= 4
    assert len(read_pruned(spark, path, "value", 1000, 1999).inputFiles()) <= 4
    # the unsorted tag column prunes nothing (every file spans 0..96)
    assert len(prune_files(idx, "tag", eq=5)) == 32
    # date axis prunes too (ISO-string order == value order)
    import datetime as dt

    survivors_d = prune_files(idx, "d", eq=dt.date(2024, 1, 5))
    assert len(survivors_d) <= 8
    got = sorted(
        r["value"]
        for r in read_pruned(
            spark, path, "d", eq=dt.date(2024, 1, 5)
        ).collect()
    )
    assert got == list(range(4000, 5000))


def test_appended_files_survive_stale_index(spark, indexed):
    path, idx = indexed
    spark.range(100_000, 100_010).select(
        F.col("id").alias("value"),
        (F.col("id") % 97).alias("tag"),
        F.lit("2030-01-01").cast("date").alias("d"),
    ).coalesce(1).write.mode("append").parquet(path)
    # the stale index has never seen the new file; the listing-aware
    # prune keeps it even though every INDEXED file is excluded
    got = sorted(
        r["value"]
        for r in read_pruned(spark, path, "value", lo=100_000).collect()
    )
    assert got == list(range(100_000, 100_010))


def test_no_index_falls_back_to_filtered_scan(spark, tmp_path):
    path = str(tmp_path / "noidx")
    spark.range(0, 100).select(F.col("id").alias("value")).write.parquet(path)
    got = sorted(
        r["value"] for r in read_pruned(spark, path, "value", 10, 12).collect()
    )
    assert got == [10, 11, 12]


def test_empty_dir_rejected(spark, tmp_path):
    with pytest.raises(Exception):
        build_file_index(spark, str(tmp_path / "missing"))


def test_timestamp_and_unindexable_columns_prune_safely(spark, tmp_path):
    """Instant (tz) timestamps prune on true epoch micros — a
    tz-aware bound in ANY zone resolves exactly (the old string axis
    compared '+02:00' suffixes lexicographically and could DROP
    matching files); binary/boolean columns are never indexed, so
    they never prune (rather than pruning wrongly)."""
    import datetime as dt

    path = str(tmp_path / "ts")
    df = spark.range(0, 4_800).select(
        F.col("id").alias("k"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("id"))
        ).alias("t"),
        F.col("id").cast("string").cast("binary").alias("raw"),
        (F.col("id") % 2 == 0).alias("flag"),
    ).repartitionByRange(8, "k")
    # Spark's default INT96 timestamps carry NO footer stats (the
    # column would be skipped = never prunes, covered below); the
    # standard TIMESTAMP_MICROS encoding is the indexable one
    old_enc = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_enc)
    idx = build_file_index(spark, path)
    kinds = {
        c: st["kind"]
        for e in idx["files"]
        for c, st in e["columns"].items()
    }
    assert kinds["t"] == "timestamp"
    assert "raw" not in kinds and "flag" not in kinds
    # a +02:00-zone bound equal to 2024-01-01 22:00 UTC: rows from
    # minute 1320 onward qualify; the buggy string axis dropped them
    bound = dt.datetime(
        2024, 1, 2, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=2))
    )
    got = read_pruned(spark, path, "t", lo=bound).count()
    full = (
        spark.read.parquet(path).filter(F.col("t") >= F.lit(bound)).count()
    )
    assert got == full > 0
    assert len(read_pruned(spark, path, "t", lo=bound).inputFiles()) < 8
    # unindexable column: no stats → all files kept, result exact
    assert len(prune_files(idx, "raw", eq=b"7")) == 8
    # the INT96 default: timestamp column has no footer stats at all,
    # so it is absent from the index and never prunes (safe)
    path96 = str(tmp_path / "ts96")
    df.write.parquet(path96)
    idx96 = build_file_index(spark, path96)
    assert all("t" not in e["columns"] for e in idx96["files"])
    assert len(prune_files(idx96, "t", lo=bound)) == 8


def test_footer_bounds_feed_percentile_geometry(spark, sf_dir):
    """X40×A4 composition: with bounds="footer" the exact-percentile
    bucket geometry comes from parquet footers (zero extra scan) and
    the result is bit-identical to the default scan-derived geometry;
    a deliberately WRONG explicit bounds claim still returns exact
    order statistics (edge-bucket clamp + widened pass-2 range)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.aggregates import (
        LAST_TWOPASS_STATS,
        exact_percentiles_twopass,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
        footer_column_bounds,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    fb = footer_column_bounds(ev, "value")
    assert fb is not None and fb[0] <= fb[1]

    def run(**kw):
        return {
            (r["event_type"], r["q"]): r["p"]
            for r in exact_percentiles_twopass(
                ev, "event_type", "value", **kw
            ).collect()
        }

    base = run()
    assert LAST_TWOPASS_STATS["bounds_source"] == "scan"  # safe default
    foot = run(bounds="footer")
    assert LAST_TWOPASS_STATS["bounds_source"] == "footer"
    assert foot == base  # geometry changes, order statistics do not
    # a wrong claim (upper half of the range chopped off): the upper
    # ranks land in the overflow sentinel bucket, which is the proof
    # the claim was wrong — the operator falls back to scan-derived
    # geometry and the answer stays exact
    wrong = run(bounds=(fb[0], fb[0] + (fb[1] - fb[0]) / 2))
    assert LAST_TWOPASS_STATS["bounds_source"] == "fallback_scan"
    assert wrong == base


def test_footer_bounds_fall_back_only_on_read_errors(
    spark, tmp_path, monkeypatch, jvm_error
):
    """The footer range is None only when the JVM cannot list the files
    or a footer cannot be read (corrupt or missing file); any other
    error raises instead of silently costing a full scan."""
    import os
    from urllib.parse import urlparse

    import custom_python_etl_data_connector_shivaask_username_spark.sources.file_index as FI

    path = str(tmp_path / "t")
    spark.range(0, 100, numPartitions=2).write.parquet(path)
    df = spark.read.parquet(path)  # the file listing is captured here
    assert FI.footer_column_bounds(df, "id") == (0.0, 99.0)
    victim = urlparse(sorted(df.inputFiles())[0]).path
    with open(victim, "wb") as fh:
        fh.write(b"not a parquet file")
    assert FI.footer_column_bounds(df, "id") is None  # ArrowInvalid
    os.remove(victim)
    assert FI.footer_column_bounds(df, "id") is None  # FileNotFoundError

    class Unlisted:
        def __init__(self, exc):
            self.exc = exc

        def inputFiles(self):
            raise self.exc

    assert FI.footer_column_bounds(Unlisted(jvm_error), "id") is None
    with pytest.raises(TypeError, match="listing bug"):
        FI.footer_column_bounds(Unlisted(TypeError("listing bug")), "id")

    def broken(*a, **k):
        raise KeyError("footer bug")

    monkeypatch.setattr(FI, "_footer_stats", broken)
    with pytest.raises(KeyError, match="footer bug"):
        FI.footer_column_bounds(spark.read.parquet(path), "id")


def test_nested_struct_leaf_name_collision_safe(spark, tmp_path):
    """A nested struct field sharing a top-level column's leaf name
    (s.id vs id) must neither crash the index build nor overwrite the
    top-level column's bounds."""
    path = str(tmp_path / "nested")
    spark.range(0, 1000).select(
        F.col("id"),
        F.struct(
            F.concat(F.lit("x"), F.col("id").cast("string")).alias("id")
        ).alias("s"),
    ).repartitionByRange(4, "id").write.parquet(path)
    idx = build_file_index(spark, path)
    for e in idx["files"]:
        assert e["columns"]["id"]["kind"] == "numeric"
        assert isinstance(e["columns"]["id"]["min"], float)
        assert "s" not in e["columns"]  # nested: not indexable
    got = sorted(
        r["id"] for r in read_pruned(spark, path, "id", 100, 110).collect()
    )
    assert got == list(range(100, 111))
    assert len(read_pruned(spark, path, "id", 100, 110).inputFiles()) < 4


def test_iso_string_bounds_and_kindless_index_compat(spark, indexed):
    """ISO-string temporal bounds parse (callers relying on string
    bounds keep their pruning), and a pre-'kind' index still prunes
    numeric columns instead of silently keeping everything."""
    path, idx = indexed
    s = prune_files(idx, "d", eq="2024-01-05")
    import datetime as dt

    assert s == prune_files(idx, "d", eq=dt.date(2024, 1, 5))
    legacy = {
        "files": [
            {
                "file": e["file"],
                "rows": e["rows"],
                "columns": {
                    "value": {
                        k: v
                        for k, v in e["columns"]["value"].items()
                        if k != "kind"
                    }
                },
            }
            for e in idx["files"]
        ]
    }
    assert len(prune_files(legacy, "value", lo=1000, hi=1999)) <= 4


def test_compaction_policy_from_index(spark, tmp_path):
    """The index carries per-file bytes, so 'does this table need
    compaction' is metadata math: a many-tiny-files layout trips the
    policy, and after compacting to few files it clears."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
        compaction_report,
        needs_compaction,
    )

    path = str(tmp_path / "tiny")
    spark.range(0, 10_000).select(F.col("id").alias("v")).repartition(
        40
    ).write.parquet(path)
    idx = build_file_index(spark, path, write=False)
    rep = compaction_report(idx, target_file_bytes=1 << 20)
    assert rep["files"] == 40
    assert rep["small_fraction"] == 1.0  # every file ≪ 512 KiB
    assert rep["ideal_files"] < 40
    assert needs_compaction(idx, target_file_bytes=1 << 20)
    # compacted twin: same rows, one file — policy clears
    cpath = str(tmp_path / "compact")
    spark.read.parquet(path).coalesce(1).write.parquet(cpath)
    cidx = build_file_index(spark, cpath, write=False)
    assert not needs_compaction(cidx, target_file_bytes=1 << 20)
    # too few files to pay for a rewrite: never trips
    assert not needs_compaction(
        {"files": idx["files"][:4]}, target_file_bytes=1 << 20
    )


def test_writers_maintain_index_incrementally(spark, tmp_path):
    """Round 9: every layout writer keeps an EXISTING index current —
    an append indexes only the new files (prune stays effective with
    no rebuild), a staged rewrite (compaction) survives the swap that
    deletes the sidecar, and X38's `file_index_staleness` reports the
    index/listing drift metadata-only."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
        file_index_staleness,
        refresh_file_index,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        compact_partitions,
        overwrite_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "maintained")
    base = spark.range(0, 8_000).select(
        F.col("id").alias("value"), (F.col("id") / 1000).cast("int").alias("p")
    )
    write_partitioned(base, path, ["p"])  # no index yet: writer no-ops
    assert read_file_index(spark, path) is None
    idx0 = build_file_index(spark, path)
    n0 = len(idx0["files"])
    assert file_index_staleness(spark, path)["current"] is True

    # append two new partitions through the layout writer: the hook
    # must index EXACTLY the new files — no rebuild, entries keyed by
    # path, old entries untouched
    inc = spark.range(20_000, 22_000).select(
        F.col("id").alias("value"),
        (F.col("id") / 1000).cast("int").alias("p"),
    )
    overwrite_partitions(inc, path, ["p"])
    idx1 = read_file_index(spark, path)
    st = file_index_staleness(spark, path)
    assert st["current"] is True and st["dead_entries"] == 0
    assert len(idx1["files"]) > n0
    # prune is EFFECTIVE on the appended range (fresh entries carry
    # bounds — not the all_files keep-everything conservatism)
    survivors = prune_files(idx1, "value", lo=21_000, hi=21_500)
    assert 0 < len(survivors) < len(idx1["files"]) // 2
    got = sorted(
        r["value"]
        for r in read_pruned(spark, path, "value", 21_000, 21_500).collect()
    )
    assert got == list(range(21_000, 21_501))

    # a RAW append (not through the layout writers) goes stale — the
    # X38 signal reports it, refresh converges, dead entries drop
    spark.range(50_000, 50_010).select(
        F.col("id").alias("value"), F.lit(99).alias("p")
    ).write.mode("append").partitionBy("p").parquet(path)
    st2 = file_index_staleness(spark, path)
    assert st2["current"] is False and st2["unindexed_files"] >= 1
    refresh_file_index(spark, path)
    assert file_index_staleness(spark, path)["current"] is True

    # compaction: atomic_swap deletes the sidecar with the old tree —
    # the writer must rebuild it over the compacted files
    compact_partitions(spark, path, ["p"])
    idx2 = read_file_index(spark, path)
    assert idx2 is not None
    st3 = file_index_staleness(spark, path)
    assert st3["current"] is True and st3["dead_entries"] == 0
    # and pruning still matches the unpruned truth post-compaction
    got2 = sorted(
        r["value"]
        for r in read_pruned(spark, path, "value", 50_000, 60_000).collect()
    )
    assert got2 == list(range(50_000, 50_010))


def test_intended_column_subset_persists_across_refresh(spark, tmp_path):
    """Round-9 advisory: the build-time `columns` argument is persisted
    in the index JSON and wins on refresh — an index whose existing
    entries happen to lack a column's min/max (or a bytes-only index)
    must not permanently narrow what future refreshes track."""
    path = str(tmp_path / "subset")
    spark.range(0, 1_000).select(
        F.col("id").alias("value"), (F.col("id") % 7).alias("other")
    ).write.parquet(path)
    idx = build_file_index(spark, path, columns=["value"])
    assert idx["columns"] == ["value"]
    assert all(set(e["columns"]) <= {"value"} for e in idx["files"])

    # simulate the narrowing trap: strip the column stats from every
    # entry (as min/max-less footers would) and persist that
    from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
        FILE_INDEX,
        refresh_file_index,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.sources.layout import (
        fs_write_text,
    )
    import json

    stripped = {
        **idx,
        "files": [{**e, "columns": {}} for e in idx["files"]],
    }
    fs_write_text(spark, f"{path}/{FILE_INDEX}", json.dumps(stripped))
    spark.range(5_000, 5_100).select(
        F.col("id").alias("value"), (F.col("id") % 7).alias("other")
    ).write.mode("append").parquet(path)
    idx2 = refresh_file_index(spark, path)
    # the new files are statted on the INTENDED subset, not the
    # (empty) union over surviving entries
    assert idx2["columns"] == ["value"]
    fresh = [e for e in idx2["files"] if e["columns"]]
    assert fresh and all(set(e["columns"]) == {"value"} for e in fresh)

    # a deliberately bytes-only index stays bytes-only
    path2 = str(tmp_path / "bytesonly")
    spark.range(0, 100).select(F.col("id").alias("v")).write.parquet(path2)
    b0 = build_file_index(spark, path2, columns=[])
    assert b0["columns"] == []
    spark.range(100, 200).select(F.col("id").alias("v")).write.mode(
        "append"
    ).parquet(path2)
    b1 = refresh_file_index(spark, path2)
    assert b1["columns"] == [] and all(
        e["columns"] == {} for e in b1["files"]
    )


def test_one_off_narrow_refresh_does_not_narrow_the_index(spark, tmp_path):
    """Round-10 advisory (the inverse of the round-9 trap): an explicit
    per-call `columns` argument to refresh_file_index stats THAT call's
    new files on the narrow subset but must NOT overwrite the persisted
    `columns` key — a later default refresh tracks the build-time
    subset again. Pre-fix, one narrow refresh permanently narrowed all
    future refreshes."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
        refresh_file_index,
    )

    path = str(tmp_path / "narrowing")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("value"), (F.col("id") % 7).alias("other")
    )
    mk(0, 1_000).write.parquet(path)
    idx = build_file_index(spark, path)  # columns=None -> track all
    assert idx["columns"] is None

    mk(5_000, 5_100).write.mode("append").parquet(path)
    narrow = refresh_file_index(spark, path, columns=["value"])
    # this call's new entries are narrow, the persisted intent is not
    assert narrow["columns"] is None

    mk(9_000, 9_100).write.mode("append").parquet(path)
    after = refresh_file_index(spark, path)
    assert after["columns"] is None
    # the newest files are statted on the FULL subset again
    known_narrow = {e["file"] for e in narrow["files"]}
    newest = [e for e in after["files"] if e["file"] not in known_narrow]
    assert newest and all(
        {"value", "other"} <= set(e["columns"]) for e in newest
    )
