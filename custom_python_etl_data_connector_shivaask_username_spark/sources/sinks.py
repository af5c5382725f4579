"""Load-stage sinks (SURVEY.md §2.1 S6, S7, S11).

The reference loads each connector into one collection named
``{connector}_raw`` with ingestion timestamps (README.md:24,28-29). Here
the durable analytical sink is parquet (one directory per connector,
same naming); the MongoDB sink is a thin adapter over the MongoDB Spark
Connector, import-gated because the connector jar/driver is not part of
this environment.

Upsert (S7, README.md:29 "audits or updates") is emulated for
append-only stores as anti-join + union: keep every old row whose key
does NOT appear in the incoming batch, then append the batch. At scale
this is the standard MERGE shape (new side broadcast when small).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.etl import add_ingest_ts

RAW_SUFFIX = "_raw"


def raw_table_path(base_path: str, connector_name: str) -> str:
    """One table per connector: ``{connector}_raw`` (README.md:28)."""
    return f"{base_path.rstrip('/')}/{connector_name}{RAW_SUFFIX}"


def write_raw(
    df: DataFrame,
    connector_name: str,
    base_path: str,
    mode: str = "append",
    stamp: bool = True,
) -> str:
    """S6: append the transformed batch to the connector's raw table."""
    if stamp:
        df = add_ingest_ts(df)
    path = raw_table_path(base_path, connector_name)
    df.write.mode(mode).parquet(path)
    return path


def upsert_parquet(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    stamp: bool = True,
    version_col: str | None = None,
) -> None:
    """S7: update-or-insert keyed on a natural id.

    Reads the existing table, anti-joins away rows being replaced, unions
    the incoming batch, and atomically overwrites. The anti-join
    broadcast-hints the (typically small) incoming batch so the big
    existing side never shuffles. ``new_df`` feeds both the broadcast
    keys and the union, so a batch that is costly to compute should be
    persisted by the caller. A missing table is created from the batch;
    any other failure to read the table raises and leaves it untouched.

    With ``version_col`` set (X19 CDC apply), the merge is
    **last-writer-wins by version** instead of by arrival: a standing
    row is only replaced when the incoming row's version is >= — so
    out-of-order batch delivery (a replayed or reordered CDC feed)
    converges to the same table as in-order delivery, and the final
    state is exactly ``arg_max(row, version)`` per key — the DuckDB-
    expressible contract ``q_cdc_upsert`` hash-checks. Scale shape:
    only rows whose key appears in the batch are contested; they union
    with the (collapsed) batch and one window over ≤ 2×batch rows picks
    winners — the standing table still never shuffles (anti/semi joins
    against the broadcast key set). Version ties go to the incoming row
    (``_src`` desc), which makes re-delivery of an identical batch
    idempotent.
    """
    if stamp:
        new_df = add_ingest_ts(new_df)
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as ex:
        # only a table that does not exist yet is created from the batch;
        # any other read failure must not replace the standing rows
        if ex.getCondition() != "PATH_NOT_FOUND":
            raise
        new_df.write.mode("overwrite").parquet(path)
        return
    batch_keys = F.broadcast(new_df.select(*keys).distinct())
    kept = existing.join(batch_keys, on=keys, how="left_anti")
    if version_col is None:
        merged = kept.unionByName(new_df, allowMissingColumns=True)
    else:
        from pyspark.sql import Window

        contested = existing.join(batch_keys, on=keys, how="left_semi")
        candidates = contested.withColumn(
            "_src", F.lit(0)
        ).unionByName(
            new_df.withColumn("_src", F.lit(1)), allowMissingColumns=True
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("_src").desc()
        )
        winners = (
            candidates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        merged = kept.unionByName(winners, allowMissingColumns=True)
    atomic_replace_parquet(spark, merged, path)


def atomic_replace_parquet(
    spark: SparkSession, df: DataFrame, path: str
) -> None:
    """Replace the parquet table at ``path`` with ``df`` even when the
    plan for ``df`` is READING ``path``.

    Parquet cannot overwrite in place while reading itself: write the
    result ONCE to a staging dir, then swap directories with a
    filesystem rename (metadata-only on HDFS/local — never a second
    copy of the data, which at 100 TB would double every merge/compact).
    Shared by :func:`upsert_parquet` and the ANN index lifecycle
    (``llm_similarity.ivfpq_compact``)."""
    staging = path.rstrip("/") + "__staging"
    df.write.mode("overwrite").parquet(staging)
    hconf = spark._jsc.hadoopConfiguration()
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(staging), hconf
    )
    target = jvm.org.apache.hadoop.fs.Path(path)
    fs.delete(target, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staging), target):
        raise IOError(f"rename {staging} -> {path} failed")


def mongodb_write_config(
    connector_name: str,
    database: str,
    uri: str,
    mode: str = "append",
    upsert_keys: list[str] | None = None,
) -> tuple[str, dict[str, str]]:
    """Option wiring for the MongoDB Spark Connector write — pure, so
    the contract is testable without a Mongo server or the connector
    jar (tests/test_connector.py pins collection naming, modes and the
    upsert idFieldList against the reference's sink behavior,
    /root/reference/README.md:24,28-29).

    Returns ``(save_mode, options)``: the collection is always
    ``{connector}_raw`` (README.md:28); with ``upsert_keys`` the write
    becomes a keyed replace (``operationType=update`` +
    ``idFieldList`` — the connector's MERGE), otherwise a plain insert
    in the given save mode.
    """
    options = {
        "connection.uri": uri,
        "database": database,
        "collection": f"{connector_name}{RAW_SUFFIX}",
    }
    if upsert_keys:
        options["operationType"] = "update"
        options["idFieldList"] = ",".join(upsert_keys)
    return mode, options


def apply_mongo_operations(
    collection, docs, upsert_keys: list[str] | None = None
) -> int:
    """The write-semantics kernel of the Mongo sink (round 8), factored
    to run against ANY pymongo-compatible collection object — a real
    ``pymongo`` collection, ``mongomock``, or the in-repo collection
    double in tests/test_connector.py. Without ``upsert_keys`` it is a
    plain ``insert_many``; with them each doc becomes a keyed
    ``replace_one(filter=key-tuple, upsert=True)`` — exactly the
    semantics the Spark connector's ``operationType=update`` +
    ``idFieldList`` options request (the reference's MERGE,
    README.md:24,28-29) and the same upsert contract
    ``streaming/pipeline.upsert_parquet`` implements relationally.

    This is the piece of S6 that is EXECUTABLE in this environment:
    the JVM Spark connector write below needs a jar + server (absent
    here, installs prohibited), but the per-document insert/upsert
    semantics are pinned by executed tests against the double, and
    the mongomock-gated round-trip in tests activates untouched the
    day the env grows a pymongo-compatible client. Returns the number
    of documents applied."""
    docs = list(docs)
    if not upsert_keys:
        if docs:
            collection.insert_many(docs)
        return len(docs)
    for d in docs:
        collection.replace_one(
            {k: d[k] for k in upsert_keys}, d, upsert=True
        )
    return len(docs)


def write_mongodb_pymongo(
    df: DataFrame,
    connector_name: str,
    database: str,
    uri: str,
    upsert_keys: list[str] | None = None,
) -> None:
    """S6 fallback path without the Spark connector jar: per-partition
    ``pymongo`` writes through :func:`apply_mongo_operations` — the
    reference's own client library (README.md:24), distributed. Each
    partition opens one client; rows land via insert_many / keyed
    replace_one. Env-blocked here (no pymongo, no server) but the
    kernel it delegates to has executed coverage; see
    :func:`apply_mongo_operations`."""
    collection_name = f"{connector_name}{RAW_SUFFIX}"
    keys = list(upsert_keys) if upsert_keys else None

    def _write_partition(rows):
        import pymongo  # env-blocked here; executes where installed

        client = pymongo.MongoClient(uri)
        try:
            coll = client[database][collection_name]
            apply_mongo_operations(
                coll, (r.asDict(recursive=True) for r in rows), keys
            )
        finally:
            client.close()

    add_ingest_ts(df).foreachPartition(_write_partition)


def write_mongodb(
    df: DataFrame,
    connector_name: str,
    database: str,
    uri: str,
    mode: str = "append",
    upsert_keys: list[str] | None = None,
) -> None:
    """S6/S7 MongoDB adapter (reference's literal sink, README.md:24).

    Requires the MongoDB Spark Connector on the classpath; raises a clear
    error here because this environment ships no MongoDB. The option
    contract lives in :func:`mongodb_write_config` (tested without the
    connector).
    """
    save_mode, options = mongodb_write_config(
        connector_name, database, uri, mode, upsert_keys
    )
    writer = (
        add_ingest_ts(df).write.format("mongodb").mode(save_mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as ex:  # pragma: no cover - no Mongo in this env
        raise NotImplementedError(
            "MongoDB Spark Connector not available in this environment; "
            "use write_raw (parquet) or upsert_parquet instead"
        ) from ex


def golden_dump(df: DataFrame, path: str, fmt: str = "json") -> None:
    """S11: deterministic single-file dump for correctness goldens."""
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "json":
        writer.json(path)
    else:
        writer.option("header", "true").csv(path)
