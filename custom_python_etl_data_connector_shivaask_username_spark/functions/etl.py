"""ETL row-transform library (SURVEY.md §2.2 T1-T10).

The reference spec's Transform stage made idiomatic: clean/reformat JSON
payloads for document-store compatibility (`/root/reference/README.md:23`),
stamp ingestion time (`README.md:29`), and route invalid rows to a
quarantine instead of failing the load (`README.md:32-34`).

Everything here is a narrow, composable function over DataFrames using
JVM-side built-ins only — no Python UDFs — so every transform stays inside
whole-stage codegen and scales with the cluster, not the driver.
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: characters illegal in MongoDB field names (``.`` and ``$``), plus
#: whitespace — sanitized to ``_`` (reference README.md:23 "MongoDB
#: compatibility").
_ILLEGAL = re.compile(r"[.$\s]+")


def sanitize_name(name: str) -> str:
    """snake_case a field name and strip document-store-illegal chars."""
    name = _ILLEGAL.sub("_", name.strip())
    name = re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", name)
    return name.lower().strip("_")


def _sanitize_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    sanitize_name(f.name), _sanitize_type(f.dataType), f.nullable
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_sanitize_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            dt.keyType, _sanitize_type(dt.valueType), dt.valueContainsNull
        )
    return dt


def sanitize_columns(df: DataFrame) -> DataFrame:
    """T2: recursively rename columns (and nested struct fields) to
    document-store-safe snake_case, in the original column order. One
    projection: a rename per column, plus a cast wherever nested fields
    need renaming too — zero data cost at any scale."""
    cols = []
    for field in df.schema.fields:
        new_type = _sanitize_type(field.dataType)
        col = F.col("`" + field.name.replace("`", "``") + "`")
        if new_type != field.dataType:
            col = col.cast(new_type)
        cols.append(col.alias(sanitize_name(field.name)))
    return df.select(*cols)


def add_ingest_ts(
    df: DataFrame, col_name: str = "_ingested_at", at: datetime | None = None
) -> DataFrame:
    """T6: stamp ingestion time (reference README.md:29 'ingestion
    timestamps to support audits or updates'). Without ``at``, the stamp
    is current_timestamp(), which is query-constant in Spark: one batch
    gets one stamp. Pass ``at`` to give several writes (a run's raw and
    quarantine rows) the same stamp."""
    stamp = F.lit(at) if at is not None else F.current_timestamp()
    return df.withColumn(col_name, stamp)


def type_normalize(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """T4: coerce columns ANSI-safely (try_cast → NULL, never job failure)."""
    return df.withColumns(
        {c: F.col(c).try_cast(t) for c, t in casts.items()}
    )


def null_handling(
    df: DataFrame,
    fill: dict | None = None,
    drop_subset: list[str] | None = None,
) -> DataFrame:
    """T7: fill defaults, then drop rows still missing required fields."""
    if fill:
        df = df.na.fill(fill)
    if drop_subset:
        df = df.na.drop(subset=drop_subset)
    return df


def quarantine_split(
    df: DataFrame, valid: Column
) -> tuple[DataFrame, DataFrame]:
    """T10: route bad rows to an error sink instead of failing the load
    (reference README.md:32-34). Returns (ok, quarantined).

    Both sides are lazy filters over ``df``: when both are written, each
    write recomputes ``df`` unless it is persisted, as
    ``connector.run_connector`` does with its parsed extract.
    """
    return df.filter(valid), df.filter(~valid | valid.isNull())


def dedupe_exact(df: DataFrame, keys: list[str]) -> DataFrame:
    """T9: first-row-per-key dedup for idempotent re-ingestion."""
    return df.dropDuplicates(keys)


def flatten_struct(df: DataFrame, col: str) -> DataFrame:
    """T5: promote a struct column's fields to top level."""
    others = [c for c in df.columns if c != col]
    return df.select(*others, f"{col}.*")
