"""X35: incremental table statistics — mergeable per-batch partials.

X31's ``collect_table_stats`` re-scans the table; on an append-heavy
100 TB lake that is the one scan you cannot afford per batch. The
warehouse answer is MERGEABLE statistics: every ingested batch
contributes a tiny partial — row count, per-column null count,
min/max, and a DataSketches HLL sketch (Spark 3.5+'s
``hll_sketch_agg`` / ``hll_union_agg`` — the Apache DataSketches HLL,
whose binary sketches union losslessly) — and "current table stats"
is a union-merge over the partials, never a rescan:

- ``append_stats_partial(batch, path, batch_id)`` — ONE aggregation
  pass over the batch (mergeable partials, same cost shape as the
  X22 rollup refresh) lands a 1-row parquet under
  ``_stats_partials/batch-<id>.parquet``. The name is the batch id,
  so an at-least-once redelivery OVERWRITES its own partial instead
  of double-counting (idempotent, the rollup-store convention).
- ``read_incremental_stats(spark, path)`` — one union-agg over the
  partials (rows: number of batches — metadata-scale) yields the
  same stats dict shape ``plan_join_tree`` consumes: summed row/null
  counts (exact), min/max (exact), HLL-union NDV (~1.6% error at the
  default lgK=12).
- ``compact_stats_partials(spark, path)`` — folds the partials to a
  single row behind the same staged atomic swap the rollup store
  uses, bounding read cost in batch count.

Sketch input types: DataSketches HLL accepts int/bigint/string/
binary, so other atomic types are mapped through an INJECTIVE
transform (distinct counts are preserved exactly): date → epoch
days, timestamp → epoch micros, float/double/decimal → canonical
string, boolean → int. min/max/null counts always use the original
column.

100 TB shape: the per-batch pass is map-side-combined partial
aggregation (the sketch IS the combine buffer); nothing but one
1-row frame reaches the driver; the partials dir grows one ~few-KB
file per batch until compaction. Freshness is per-batch; X31's full
ANALYZE and X33's sampled ANALYZE remain the bootstrap paths for
pre-existing data.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layout import atomic_swap, recover_swap
from .stats import _scan_bytes, _stat_cols

PARTIALS_DIR = "_stats_partials"

#: HLL sketch log2(K): 12 → ~1.6% relative standard error, ~4 KB/col
DEFAULT_LG_K = 12


def _sketch_input(c: str, dt: str):
    """Injective mapping of an atomic column into a type
    ``hll_sketch_agg`` accepts (int/bigint/string/binary) — distinct
    counts survive exactly."""
    col = F.col(c)
    if dt in ("int", "bigint"):
        return col
    if dt in ("tinyint", "smallint"):
        return col.cast("int")
    if dt == "boolean":
        return col.cast("int")
    if dt == "string":
        return col
    if dt == "date":
        return F.unix_date(col)
    if dt in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(col.cast("timestamp"))
    # float/double/decimal: canonical string form is injective
    return col.cast("string")


def stats_partial(
    df: DataFrame,
    columns: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One-row mergeable partial: row count + per-column HLL sketch /
    min / max / non-null count, plus the column-type map (so readers
    need no access to the original table)."""
    cols = _stat_cols(df, columns)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, dt in cols:
        aggs += [
            F.hll_sketch_agg(_sketch_input(name, dt), lg_k).alias(
                f"{name}__sketch"
            ),
            F.min(name).alias(f"{name}__min"),
            F.max(name).alias(f"{name}__max"),
            F.count(name).alias(f"{name}__nn"),
        ]
    return df.agg(*aggs).withColumn(
        "__types", F.lit(json.dumps(dict(cols)))
    )


def _partials_path(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/{PARTIALS_DIR}"


def append_stats_partial(
    batch: DataFrame,
    table_path: str,
    batch_id: int,
    columns: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
) -> None:
    """One agg pass over the batch; the partial lands as
    ``_stats_partials/batch-<id>.parquet``. Deterministic name →
    a redelivered batch replaces its own partial (idempotent)."""
    import pyarrow.fs as pafs

    from ..sources.rollup_store import _fs_and_path

    spark = batch.sparkSession
    part = stats_partial(batch, columns, lg_k)
    staging = f"{_partials_path(table_path)}__stage_{_uuid.uuid4().hex}"
    part.coalesce(1).write.mode("overwrite").parquet(staging)
    fs, stage = _fs_and_path(staging)
    files = [
        i.path
        for i in fs.get_file_info(pafs.FileSelector(stage))
        if i.is_file and i.path.endswith(".parquet")
    ]
    assert len(files) == 1, files
    _, pdir = _fs_and_path(_partials_path(table_path))
    fs.create_dir(pdir, recursive=True)
    final = f"{pdir}/batch-{batch_id}.parquet"
    try:
        fs.delete_file(final)
    except FileNotFoundError:
        pass
    fs.move(files[0], final)
    fs.delete_dir(stage)


def _merge_partials(parts: DataFrame) -> tuple[DataFrame, dict[str, str]]:
    """Union-merge any number of partial rows into one (commutative,
    associative: sums, min/max, HLL sketch unions). Returns the merged
    frame AND the unioned column-type map — the one small collect over
    the partials happens here, once, so callers don't re-run it."""
    names = {
        c[: -len("__sketch")]
        for c in parts.columns
        if c.endswith("__sketch")
    }
    aggs = [F.sum("__rows").alias("__rows")]
    for c in sorted(names):
        aggs += [
            F.hll_union_agg(F.col(f"{c}__sketch")).alias(f"{c}__sketch"),
            F.min(f"{c}__min").alias(f"{c}__min"),
            F.max(f"{c}__max").alias(f"{c}__max"),
            F.sum(f"{c}__nn").alias(f"{c}__nn"),
        ]
    types: dict[str, str] = {}
    for (raw,) in parts.select("__types").collect():
        types.update(json.loads(raw))
    merged = parts.agg(*aggs).withColumn(
        "__types", F.lit(json.dumps(types))
    )
    return merged, types


def read_incremental_stats(
    spark: SparkSession, table_path: str
) -> dict[str, Any]:
    """Current table stats from the partials alone (one union-agg
    over ``#batches`` rows — never a table rescan), in the exact
    shape ``plan_join_tree`` consumes."""
    parts = spark.read.option("mergeSchema", "true").parquet(
        _partials_path(table_path)
    )
    n_parts = parts.count()
    # schema evolution: a column added in a later batch has NULL
    # sketch/min/max/nn in earlier partials (mergeSchema) — unions and
    # min/max skip NULLs, and its null_count correctly counts every
    # pre-evolution row as null. The type maps union across batches
    # inside _merge_partials.
    merged, types = _merge_partials(parts)
    names = sorted(types)
    est = merged.select(
        "__rows",
        *[
            F.hll_sketch_estimate(F.col(f"{c}__sketch")).alias(
                f"{c}__ndv"
            )
            for c in names
        ],
        *[F.col(f"{c}__min") for c in names],
        *[F.col(f"{c}__max") for c in names],
        *[F.col(f"{c}__nn") for c in names],
    ).first()
    n = est["__rows"]
    stats: dict[str, Any] = {
        "row_count": n,
        "size_bytes": _scan_bytes(spark.read.parquet(table_path)),
        "columns": {},
        "incremental": {"batches": n_parts},
    }
    for c in names:
        stats["columns"][c] = {
            "type": types[c],
            "ndv": int(est[f"{c}__ndv"]),
            "min": est[f"{c}__min"],
            "max": est[f"{c}__max"],
            "null_count": n - est[f"{c}__nn"],
        }
    return stats


def compact_stats_partials(spark: SparkSession, table_path: str) -> None:
    """Fold all partials into one ``batch--1`` row behind a staged
    atomic swap — read cost stays O(1) in delivered-batch count.
    Post-compaction redeliveries of folded ids would double-count;
    pair with the same monotone-batch-id contract the rollup store
    documents (or re-append only NEW ids after compacting)."""
    pdir = _partials_path(table_path)
    recover_swap(spark, pdir)
    parts = spark.read.option("mergeSchema", "true").parquet(pdir)
    folded, _ = _merge_partials(parts)
    staging = f"{pdir}__compacting"
    tmp = f"{staging}_write"
    folded.coalesce(1).write.mode("overwrite").parquet(tmp)
    import pyarrow.fs as pafs

    from ..sources.rollup_store import _fs_and_path

    fs, tdir = _fs_and_path(tmp)
    files = [
        i.path
        for i in fs.get_file_info(pafs.FileSelector(tdir))
        if i.is_file and i.path.endswith(".parquet")
    ]
    assert len(files) == 1, files
    _, sdir = _fs_and_path(staging)
    fs.create_dir(sdir, recursive=True)
    fs.move(files[0], f"{sdir}/batch--1.parquet")
    fs.delete_dir(tdir)
    atomic_swap(spark, staging, pdir)
