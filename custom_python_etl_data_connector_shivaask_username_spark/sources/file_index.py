"""X40: file-level min/max statistics index — data skipping that
prunes the FILE LIST, not just row groups.

Spark's parquet reader already skips row groups whose footer min/max
exclude a pushed filter — but it only learns that by SCHEDULING a
task and READING the footer, per file, per query. At 100 TB (10⁵-10⁶
files) the footer round-trips and task overhead dominate selective
scans. Delta Lake and Iceberg fix this with a transaction-log-side
per-file stats index consulted BEFORE planning; this module
re-expresses that public design for plain parquet directories:

- :func:`build_file_index` — collect per-file (rows, per-column
  min/max/null_count) by reading ONLY parquet footers. The footer
  reads are DISTRIBUTED (``sc.parallelize(files).mapPartitions`` with
  pyarrow) — building the index for a 10⁵-file table is a map-only
  metadata job, never a data scan. Persisted as
  ``_file_index.json`` next to the data (underscore-prefixed:
  invisible to readers; Hadoop-FS text I/O so hdfs:///s3:// work).
- :func:`prune_files` — the file paths whose [min, max] can satisfy
  ``lo <= col <= hi`` (or equality). Driver-side metadata math over
  the index; files with no stats for the column are kept (skipping
  must never lose rows).
- :func:`read_pruned` — ``spark.read.parquet(*survivors)`` with the
  predicate still applied: pruning is an optimization, the filter
  remains the source of truth (exactly Delta's contract).

Layout matters: the index prunes in proportion to how well values
cluster per file — perfect after ``write_zordered`` / a range
sort (``sources/layout.py``), useless on a random layout. The pins
measure both directions honestly.

Staleness: the index names the exact files it indexed; appended
files are ABSENT from it and :func:`prune_files` keeps unknown files
conservatively when the listing is passed in (``all_files=``), so an
un-refreshed index degrades to reading more, never to wrong results.
"""

from __future__ import annotations

import json
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from .layout import fs_read_text, fs_write_text

FILE_INDEX = "_file_index.json"


def _col_kind(t) -> str | None:
    """Comparison-axis kind for an arrow field type; None = the
    column is not indexable (binary, nested, boolean — pruning on a
    broken axis could DROP matching files, so unindexable columns
    simply never prune)."""
    import pyarrow as pa

    if (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_decimal(t)
    ):
        return "numeric"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        # tz set = instant (Spark TimestampType); tz None = wall clock
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    return None


def _to_axis(v: Any, kind: str):
    """A footer-stat value (or caller bound) on the kind's numeric/
    string axis. Temporal kinds: instants on true epoch micros
    (tz-aware datetimes exact, naive = driver-local, matching Spark
    collect), wall clocks as-if-UTC micros, dates as epoch days."""
    import datetime as _dt

    if v is None:
        return None
    if kind == "string":
        return v if isinstance(v, str) else str(v)
    if kind == "numeric":
        return float(v)
    # ISO-string bounds for temporal kinds parse: callers may pass
    # '2024-06-01'
    if isinstance(v, str):
        v = (
            _dt.date.fromisoformat(v)
            if kind == "date"
            else _dt.datetime.fromisoformat(v)
        )
    if kind == "date":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return float((v - _dt.date(1970, 1, 1)).days)
        return float(v)
    if kind == "timestamp":
        if isinstance(v, _dt.datetime):
            return v.timestamp() * 1e6
        return float(v)
    if kind == "timestamp_ntz":
        if isinstance(v, _dt.datetime):
            wall = v.replace(tzinfo=_dt.timezone.utc)
            epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            return (wall - epoch).total_seconds() * 1e6
        return float(v)
    raise ValueError(f"no axis for kind {kind!r}")


def _footer_stats(paths: list[str], columns: list[str] | None):
    """Per-file stats from parquet footers only (runs on executors).
    min/max are stored ALREADY on the comparison axis (numbers for
    numeric/temporal kinds, plain strings otherwise) so pruning never
    re-interprets values — the tz-aware-datetime-vs-string traps die
    at index time."""
    import pyarrow.parquet as pq

    from .rollup_store import _fs_and_path

    out = []
    for path in paths:
        fs, local = _fs_and_path(path)
        fsize = fs.get_file_info(local).size
        with fs.open_input_file(local) as f:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            arrow = pf.schema_arrow
            # key by the full dotted path and keep ONLY top-level flat
            # leaves: a nested field sharing a top-level column's LEAF
            # name (s.id vs id) must not be looked up against the
            # top-level field's kind — or overwrite its bounds
            leaf_paths = [
                md.schema.column(i).path for i in range(md.num_columns)
            ]
            kinds = {fld.name: _col_kind(fld.type) for fld in arrow}
            want = [
                (i, p)
                for i, p in enumerate(leaf_paths)
                if "." not in p
                and (columns is None or p in columns)
                and kinds.get(p)
            ]
            cols: dict[str, Any] = {}
            for i, n in want:
                kind = kinds[n]
                mins, maxs, nulls, ok = [], [], 0, True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mins.append(_to_axis(st.min, kind))
                    maxs.append(_to_axis(st.max, kind))
                    nulls += st.null_count or 0
                if ok and mins:
                    cols[n] = {
                        "min": min(mins),
                        "max": max(maxs),
                        "null_count": nulls,
                        "kind": kind,
                    }
            out.append(
                {
                    "file": path,
                    "rows": md.num_rows,
                    "bytes": fsize,
                    "columns": cols,
                }
            )
    return out


def build_file_index(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    write: bool = True,
) -> dict[str, Any]:
    """Distributed footer-only stats collection over every parquet
    file under ``path``; returns (and by default persists) the index
    dict ``{files: [{file, rows, columns: {c: {min, max, null_count,
    kind}}}]}``. min/max live on the per-kind comparison axis
    (numbers / plain strings — JSON-native, no revival needed);
    :func:`prune_files` maps caller bounds onto the same axis via
    the stored ``kind``."""
    files = sorted(spark.read.parquet(path).inputFiles())
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    sc = spark.sparkContext
    slices = min(len(files), sc.defaultParallelism)
    entries = (
        sc.parallelize(files, slices)
        .mapPartitions(lambda it: _footer_stats(list(it), columns))
        .collect()
    )
    index = {
        "table": path,
        # the INTENDED column subset (None = all), persisted so a
        # refresh after an empty build or min/max-less footers never
        # permanently narrows the index (round-9 advisory)
        "columns": columns,
        "files": sorted(entries, key=lambda e: e["file"]),
    }
    if write:
        fs_write_text(
            spark,
            f"{path.rstrip('/')}/{FILE_INDEX}",
            json.dumps(index, default=str),
        )
    return index


def read_file_index(spark: SparkSession, path: str) -> dict[str, Any] | None:
    raw = fs_read_text(spark, f"{path.rstrip('/')}/{FILE_INDEX}")
    return None if raw is None else json.loads(raw)


def _indexed_columns(index: dict[str, Any]) -> list[str]:
    """The column subset an existing index tracks (union over entries).
    An empty list is a REAL answer — a deliberately bytes-only index
    (``columns=[]``, compaction-policy use) must stay bytes-only on
    refresh rather than balloon to every column (round-9 review
    finding)."""
    cols: set[str] = set()
    for e in index.get("files", []):
        cols.update(e.get("columns", {}).keys())
    return sorted(cols)


def refresh_file_index(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    write: bool = True,
    current: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Incremental index maintenance (round 9): footer-stat ONLY the
    files the index has never seen and DROP entries for files no
    longer on disk (overwrite / compaction), then persist the merge.

    Cost ∝ new files, not table files — the write-side twin of the
    X35 incremental stats partials: an append of 3 files to a
    100k-file table reads 3 footers. Idempotent (entries keyed by the
    file path; re-running re-lists and converges) and safe under
    replay: a file either exists with one footer or does not exist.
    Called automatically by the layout writers
    (``write_partitioned`` / ``overwrite_partitions`` /
    ``compact_partitions`` / ``write_zordered``) when an index is
    already present — build once, maintained thereafter. A missing
    index builds fresh (equivalent to :func:`build_file_index`).
    New files are statted on the column subset PERSISTED at build
    time (round-10: the ``columns`` key, None = all), so a
    deliberately-subset index stays a subset, and an index whose first
    build hit empty listings or min/max-less footers never permanently
    narrows; pre-round-10 indexes fall back to the union over existing
    entries. An explicit ``columns`` argument stats THIS call's new
    files on that subset but does NOT overwrite the persisted key
    (round-10 advisory: a one-off narrow refresh used to permanently
    narrow every future refresh — the inverse of the round-9
    foot-gun); changing the tracked subset requires an explicit
    rebuild (:func:`build_file_index`). ``current`` lets a caller that
    already read the sidecar (the writer hook) skip a second multi-MB
    JSON read."""
    if current is None:
        current = read_file_index(spark, path)
    if current is None:
        return build_file_index(spark, path, columns, write=write)
    files = set(spark.read.parquet(path).inputFiles())
    kept = [e for e in current.get("files", []) if e["file"] in files]
    known = {e["file"] for e in kept}
    new = sorted(files - known)
    # the build-time subset stays authoritative: persisted key when
    # present (None = all — present-but-None is a real answer), else
    # (pre-round-10 index) the union over entries. An explicit argument
    # affects only THIS call's footer reads, never the persisted key.
    if "columns" in current:
        persisted = current["columns"]
    else:
        persisted = _indexed_columns(current)
    stat_cols = columns if columns is not None else persisted
    if new:
        sc = spark.sparkContext
        slices = min(len(new), sc.defaultParallelism)
        kept += (
            sc.parallelize(new, slices)
            .mapPartitions(lambda it: _footer_stats(list(it), stat_cols))
            .collect()
        )
    index = {
        "table": path,
        "columns": persisted,
        "files": sorted(kept, key=lambda e: e["file"]),
    }
    if write:
        fs_write_text(
            spark,
            f"{path.rstrip('/')}/{FILE_INDEX}",
            json.dumps(index, default=str),
        )
    return index


def refresh_file_index_if_present(spark: SparkSession, path: str) -> None:
    """Writer-side hook: keep an EXISTING index current after a write;
    tables that never built one stay un-indexed (indexing is the
    owner's policy call, not a write side effect)."""
    idx = read_file_index(spark, path)
    if idx is not None:
        refresh_file_index(spark, path, current=idx)


def file_index_staleness(
    spark: SparkSession, path: str
) -> dict[str, Any] | None:
    """X38's 'index current' signal, metadata-only: how far the index
    lags the listing. ``None`` when no index exists. ``current`` is
    True when the indexed file set equals the listing exactly."""
    index = read_file_index(spark, path)
    if index is None:
        return None
    listing = set(spark.read.parquet(path).inputFiles())
    indexed = {e["file"] for e in index.get("files", [])}
    return {
        "current": listing == indexed,
        "unindexed_files": len(listing - indexed),
        "dead_entries": len(indexed - listing),
        "files": len(listing),
    }


def prune_files(
    index: dict[str, Any],
    col: str,
    lo: Any = None,
    hi: Any = None,
    eq: Any = None,
    all_files: list[str] | None = None,
) -> list[str]:
    """File paths that MAY contain rows with ``lo <= col <= hi`` (or
    ``col = eq``). A file is dropped only when its recorded min/max
    PROVE no row matches — files without stats for the column (or an
    unindexable column type) are kept, and ``all_files`` (the current
    listing) re-adds files the index has never seen (post-index
    appends): pruning can only ever over-read, never lose rows. If
    mapping a caller bound onto the column's stored axis fails, no
    file prunes (same contract)."""
    if eq is not None:
        lo = hi = eq
    keep = []
    for e in index.get("files", []):
        st = e.get("columns", {}).get(col)
        kind = (st or {}).get("kind")
        if st and not kind:
            # pre-kind index (older format): numeric bounds are still
            # usable as-is; anything else is kept conservatively
            if isinstance(st.get("min"), (int, float)) and isinstance(
                st.get("max"), (int, float)
            ):
                kind = "numeric"
        if not st or not kind:
            keep.append(e["file"])
            continue
        try:
            qlo = None if lo is None else _to_axis(lo, kind)
            qhi = None if hi is None else _to_axis(hi, kind)
        except (TypeError, ValueError):
            keep.append(e["file"])
            continue
        if qlo is not None and st["max"] < qlo:
            continue
        if qhi is not None and qhi < st["min"]:
            continue
        keep.append(e["file"])
    if all_files is not None:
        indexed = {e["file"] for e in index.get("files", [])}
        keep += [f for f in all_files if f not in indexed]
    return keep


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo: Any = None,
    hi: Any = None,
    eq: Any = None,
    index: dict[str, Any] | None = None,
) -> DataFrame:
    """Scan only the files the index cannot rule out, with the
    predicate STILL applied (pruning is an optimization, the filter
    is the contract). Falls back to a plain filtered scan when no
    index exists."""
    from pyspark.sql import functions as F

    df_all = spark.read.parquet(path)
    if index is None:
        index = read_file_index(spark, path)
    if index is None:
        files = None
    else:
        files = prune_files(
            index, col, lo, hi, eq, all_files=df_all.inputFiles()
        )
    if files is None:
        df = df_all
    elif not files:  # every file provably excluded
        df = df_all.filter(F.lit(False))
    else:
        # basePath keeps hive-partition columns when reading leaves
        df = spark.read.option("basePath", path).parquet(*files)
    if eq is not None:
        return df.filter(F.col(col) == F.lit(eq))
    out = df
    if lo is not None:
        out = out.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        out = out.filter(F.col(col) <= F.lit(hi))
    return out


def footer_column_bounds(
    df: DataFrame, col: str, max_files: int = 1024
) -> tuple[float, float] | None:
    """Global [min, max] of a NUMERIC column from parquet footers
    alone — zero data scanned. For consumers that only need a
    conservative range (e.g. the exact-percentile bucket geometry,
    `operators/aggregates.py`): the footer range covers every row in
    the files, so it can only be WIDER than any filtered subset's —
    safe for geometry, wrong for exact answers. Returns None when the
    frame is not a plain file scan, the column lacks footer stats
    (INT96, NaN-polluted doubles), or the file count exceeds
    ``max_files`` (the driver-side footer loop is for modest file
    counts; bigger tables should keep a persisted X40 index), or when
    the JVM cannot list the files or a footer cannot be read (missing
    or corrupt file). Any other error raises: a silent None here turns
    a footer-only geometry into a full scan."""
    import pyarrow as pa

    try:
        files = df.inputFiles()
    except Py4JJavaError:
        return None
    if not files or len(files) > max_files:
        return None
    try:
        entries = _footer_stats(list(files), [col])
    except (OSError, pa.ArrowException):
        return None
    lo, hi = None, None
    for e in entries:
        st = e.get("columns", {}).get(col)
        if not st or st.get("kind") != "numeric":
            return None  # a single stats-less file breaks the bound
        lo = st["min"] if lo is None else min(lo, st["min"])
        hi = st["max"] if hi is None else max(hi, st["max"])
    if lo is None:
        return None
    return float(lo), float(hi)


def compaction_report(
    index: dict[str, Any],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, Any]:
    """The write-side question the index answers for free: does this
    table need compaction? A file is SMALL when it is under half the
    target size (the standard bin-packing cutoff — two smalls always
    fit one target). Returns the small-file count/bytes, the fraction
    of files that are small, and ``ideal_files`` (total bytes at the
    target size) so callers can see the task-count inflation the
    layout is paying. Pure metadata math over an already-built index
    — pair with `layout.compact_partitions` to act on it."""
    files = [e for e in index.get("files", []) if e.get("bytes") is not None]
    total = sum(e["bytes"] for e in files)
    small = [e for e in files if e["bytes"] < target_file_bytes / 2]
    return {
        "files": len(files),
        "total_bytes": total,
        "small_files": len(small),
        "small_bytes": sum(e["bytes"] for e in small),
        "small_fraction": (len(small) / len(files)) if files else 0.0,
        "ideal_files": max(1, -(-total // target_file_bytes)),
    }


def needs_compaction(
    index: dict[str, Any],
    target_file_bytes: int = 128 * 1024 * 1024,
    max_small_fraction: float = 0.5,
    min_files: int = 8,
) -> bool:
    """True when a majority-ish of the table's files are small AND
    there are enough of them for compaction to pay for its rewrite —
    a handful of small files costs less than rewriting them."""
    r = compaction_report(index, target_file_bytes)
    return (
        r["files"] >= min_files
        and r["small_fraction"] > max_small_fraction
        and r["files"] > 2 * r["ideal_files"]
    )
