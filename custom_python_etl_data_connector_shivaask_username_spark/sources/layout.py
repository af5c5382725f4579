"""Partitioned lake layout — the physical table format at 100 TB.

A production corpus is not one directory of parquet files; it is a
hive-partitioned tree (``dt=2026-08-01/…``) whose layout determines
whether a query scans 100 TB or 100 GB. Three primitives live here:

- :func:`write_partitioned` — partitionBy write with the file-count
  controlled: the input is shuffled once on the partition columns so
  each partition cell is produced by a bounded number of tasks, instead
  of every task writing a sliver into every cell (the small-files
  explosion: tasks × cells files per batch, the classic lake killer).
- :func:`overwrite_partitions` — dynamic partition overwrite: replaces
  ONLY the cells present in the incoming batch (idempotent backfill /
  late-data re-run), never touching sibling partitions. This is the
  write-side contract that makes per-day re-processing safe.
- :func:`compact_partitions` — bin-packs the small files that
  accumulate from incremental appends back into few-files-per-cell,
  staged + filesystem-rename swapped (metadata-only, no second data
  copy — same swap discipline as ``sinks.upsert_parquet``).
- :func:`write_zordered` — multi-dimensional data clustering inside a
  partition: rows sorted by an interleaved-bit Z-value so parquet
  min/max footer stats stay narrow on EVERY clustered column at once
  (the layout Delta's ``OPTIMIZE ZORDER BY`` / Iceberg sort orders
  produce). A 1-D sort gives perfect skipping on one column and none
  on the others; Z-order gives ~n_files^(1/k) range coverage per
  dimension for k clustered columns — the difference between pruning
  on *either* filter column and only one.

Read-side, partition pruning is free once the layout exists: a filter
on the partition column appears as ``PartitionFilters`` in the scan
(asserted in tests/test_layout.py) and prunes whole directories before
any IO happens — the difference between touching 3 files and 3 million.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _maintain_file_index(spark: SparkSession, path: str) -> None:
    """Round 9: every layout writer keeps an EXISTING X40 file index
    current — footer-stats only the files this write created, drops
    entries the write deleted. Tables without an index are untouched
    (indexing stays the owner's policy call). Cost ∝ files written."""
    from .file_index import refresh_file_index_if_present

    refresh_file_index_if_present(spark, path)


def _index_columns_if_present(
    spark: SparkSession, path: str
) -> tuple[list[str] | None] | None:
    """Pre-swap capture for staged rewrites: ``atomic_swap`` deletes
    the target INCLUDING its `_file_index.json`, so a compaction or
    re-clustering would silently orphan the index. Returns None when
    no index exists, else a 1-tuple holding the index's column subset
    (itself possibly None = all columns)."""
    from .file_index import _indexed_columns, read_file_index

    idx = read_file_index(spark, path)
    return None if idx is None else (_indexed_columns(idx),)


def _rebuild_index_after_swap(
    spark: SparkSession, path: str, pre_index: tuple | None
) -> None:
    """Post-swap: re-index the (few, freshly compacted/clustered)
    files on the same column subset the old index tracked."""
    if pre_index is not None:
        from .file_index import build_file_index

        build_file_index(spark, path, columns=pre_index[0])


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet write with bounded files per cell.

    ``files_per_partition == 1``: one shuffle keyed on the partition
    columns — each cell lands in exactly one task, one file. For large
    cells, a deterministic xxhash64 salt widens each cell to exactly
    ``files_per_partition`` writer tasks (no ``rand()``: retries and
    speculative tasks must route rows identically).
    """
    cols = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        arranged = df.repartition(*cols, salt)
    else:
        arranged = df.repartition(*cols)
    # static overwrite deletes the whole path, sidecar included —
    # capture an existing index's column subset first, rebuild after
    pre_index = (
        _index_columns_if_present(df.sparkSession, path)
        if mode == "overwrite"
        else None
    )
    arranged.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    if pre_index is not None:
        _rebuild_index_after_swap(df.sparkSession, path, pre_index)
    else:
        _maintain_file_index(df.sparkSession, path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace only the cells in ``df``.

    Static overwrite would drop EVERY existing partition first; dynamic
    mode (a write option since Spark 3.0, no session-level conf flip
    needed) computes the distinct partition values in the batch and
    substitutes exactly those directories. Sibling partitions are
    untouched — re-running one day of a 5-year table rewrites one day.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    _maintain_file_index(df.sparkSession, path)


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> "F.Column":
    """Z-value column: ``bits`` min-max-normalized bits per clustered
    column, bit-interleaved into one BIGINT sort key.

    The min/max per column is a metadata-scale aggregate (2 scalars per
    column — at cluster scale these come from table statistics instead
    of a scan). Normalization + interleave are pure JVM column
    arithmetic: no UDF, whole-stage-codegen friendly. ``bits × len(cols)``
    must fit a 64-bit long (asserted); 16 bits/dim resolves ~65k
    distinct cells per dimension, far finer than any file count.
    """
    assert bits * len(cols) <= 63, "z-value must fit a signed 64-bit long"
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal", "date", "timestamp", "timestamp_ntz",
    }

    def as_double(c: str, dt: str) -> "F.Column":
        # temporal types refuse a direct double cast (DATATYPE_MISMATCH);
        # convert through their integer epoch representation instead —
        # unix_date for DATE, epoch micros for timestamps (NTZ via a
        # session-tz cast: the same expression feeds min/max AND the
        # per-row value, so any tz shift cancels in the normalization)
        if dt == "date":
            return F.unix_date(F.col(c)).cast("double")
        if dt in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    col_exprs = {}
    for c in cols:
        dt = dict(df.dtypes)[c].split("(")[0]
        if dt not in numeric:
            raise TypeError(
                f"zorder column {c!r} has type {dt!r}; Z-ordering needs an "
                f"ordered numeric/temporal domain — hash-cluster strings "
                f"some other way (a hashed value has no range locality)"
            )
        col_exprs[c] = as_double(c, dt)
    row = df.agg(
        *[F.min(col_exprs[c]).alias(f"mn_{c}") for c in cols],
        *[F.max(col_exprs[c]).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    if any(row[f"mn_{c}"] is None for c in cols):
        raise ValueError(
            "zorder_value: empty input or all-NULL clustered column "
            f"(min/max: { {c: row[f'mn_{c}'] for c in cols} })"
        )
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = float(row[f"mn_{c}"]), float(row[f"mx_{c}"])
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                (
                    # NULL cells cluster at the low end of their dimension
                    # instead of nulling the whole z-value (which would
                    # destroy locality on every OTHER dimension too)
                    (F.coalesce(col_exprs[c], F.lit(mn)) - mn)
                    / span
                    * top
                ).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)),
                b * len(cols) + i,
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the Z-curve over ``cols``.

    ``repartitionByRange`` on the z-value gives each output file a
    contiguous z-range (the locality that makes every clustered
    column's min/max narrow); the within-partition sort keeps row
    groups inside a file just as tight. One shuffle total — the same
    cost as any layout-controlled write.

    Writes land in a staging dir then swap in via filesystem rename —
    the primary use is OPTIMIZE-style re-clustering of an EXISTING
    table (``write_zordered(spark.read.parquet(p), p, cols)``), where
    a direct overwrite of a path the plan is still reading either
    errors or destroys data mid-read (same discipline as
    ``compact_partitions`` / ``sinks.upsert_parquet``).
    """
    recover_swap(df.sparkSession, path)
    z = zorder_value(df, cols, bits)
    arranged = df.withColumn("_z", z)
    arranged = (
        arranged.repartitionByRange(num_files, "_z")
        if num_files
        else arranged.repartitionByRange("_z")
    )
    out = arranged.sortWithinPartitions("_z").drop("_z")
    staging = path.rstrip("/") + "__zordering"
    pre_index = _index_columns_if_present(df.sparkSession, path)
    out.write.mode(mode).parquet(staging)
    atomic_swap(df.sparkSession, staging, path)
    _rebuild_index_after_swap(df.sparkSession, path, pre_index)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Bin-pack accumulated small files back to few per cell.

    Incremental appends leave one file per (batch × cell); a month of
    hourly loads is 720 slivers per cell and the scan pays per-file
    open/footer cost. Read → re-shuffle on the partition columns →
    staged write → filesystem rename swap. The shuffle moves each cell
    once; the swap is metadata-only.
    """
    recover_swap(spark, path)
    merged = spark.read.parquet(path)
    staging = path.rstrip("/") + "__compacting"
    pre_index = _index_columns_if_present(spark, path)
    write_partitioned(
        merged, staging, partition_cols, files_per_partition, mode="overwrite"
    )
    atomic_swap(spark, staging, path)
    _rebuild_index_after_swap(spark, path, pre_index)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for ``path``'s store."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), spark._jsc.hadoopConfiguration()
    )
    return fs, jvm.org.apache.hadoop.fs.Path


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


def recover_swap(spark: SparkSession, path: str) -> None:
    """Finish what an interrupted :func:`atomic_swap` left at ``path``.
    Every staged rewrite and every append calls it once, before it
    touches ``path``. A ``__trash`` dir is the old copy of a committed
    swap and is deleted. An ``__aside`` dir with no table is a swap
    that crashed between its two renames: it is renamed back, so
    ``path`` reads its old contents. An ``__aside`` dir next to a table
    is either a swap that crashed just after committing or a table
    another writer created after such a crash; recovery cannot tell
    which copy holds the rows, so it raises and deletes neither."""
    fs, Path = _hadoop_fs(spark, path)
    base = path.rstrip("/")
    target, aside = Path(base), Path(base + "__aside")
    fs.delete(Path(base + "__trash"), True)
    if fs.exists(aside):
        if fs.exists(target):
            raise IOError(
                f"{base} and {base}__aside both exist: an interrupted "
                "swap left its old copy next to a table; keep the copy "
                "that holds the rows and remove the other"
            )
        _rename(fs, aside, target)


def atomic_swap(spark: SparkSession, staging: str, path: str) -> None:
    """Replace ``path`` with ``staging`` via filesystem renames — the
    metadata-only commit step shared by every staged rewrite (table
    compaction, rollup-store compaction, the parquet upsert). The old
    tree moves to ``{path}__aside``, staging moves into place (the
    commit), then the aside dir is renamed to ``{path}__trash`` and
    deleted: at every step the old or the new tree is readable at
    ``path`` or in the aside dir. A failed second rename moves the old
    tree back. The caller runs :func:`recover_swap` on ``path`` first,
    before reading it. On HDFS/local rename is atomic; object stores
    need their own commit protocol."""
    fs, Path = _hadoop_fs(spark, path)
    base = path.rstrip("/")
    target, aside = Path(base), Path(base + "__aside")
    had_target = fs.exists(target)
    if had_target:
        _rename(fs, target, aside)
    try:
        _rename(fs, Path(staging), target)
    except BaseException:
        if had_target:
            _rename(fs, aside, target)
        raise
    if had_target:
        trash = Path(base + "__trash")
        _rename(fs, aside, trash)
        fs.delete(trash, True)


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text/JSON sidecar through the Hadoop FileSystem
    API, so the same code path serves file://, hdfs:// and s3a://
    stores — the manifest pattern every staged-store writer shares
    (Python ``open()`` would silently target a bogus local path on any
    non-local store)."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), spark._jsc.hadoopConfiguration()
    )
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    out.write(bytearray(content.encode("utf-8")))
    out.close()


def fs_write_text_exclusive(
    spark: SparkSession, path: str, content: str
) -> bool:
    """Create-exclusive variant of :func:`fs_write_text`: write only if
    the file does not already exist (``FileSystem.create(path,
    overwrite=False)``), returning True on the write and False when a
    concurrent writer got there first. The loser re-reads and verifies
    instead of clobbering — the loud-refusal sidecars (grain records)
    need first-write-wins, not last-writer-wins (round-12 advice:
    record_resolution's read-check-write was non-atomic)."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), spark._jsc.hadoopConfiguration()
    )
    from py4j.protocol import Py4JJavaError

    try:
        out = fs.create(jvm.org.apache.hadoop.fs.Path(path), False)
    except Py4JJavaError as e:
        if "AlreadyExists" in str(e.java_exception):
            return False
        raise
    out.write(bytearray(content.encode("utf-8")))
    out.close()
    return True


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text sidecar through the Hadoop FileSystem API;
    ``None`` if the file does not exist (first run). Same URI coverage
    as :func:`fs_write_text`."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), spark._jsc.hadoopConfiguration()
    )
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p), "UTF-8")
    )
    try:
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        reader.close()
