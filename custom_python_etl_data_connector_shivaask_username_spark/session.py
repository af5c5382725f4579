"""SparkSession construction with scale-appropriate defaults.

Single place where engine-wide Spark configuration lives so tests, bench
and the driver contract all run with the same semantics:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  the 100 TB path relies on it, and it is harmless at test scale.
- UTC session timezone — required for deterministic timestamp semantics
  against the DuckDB oracle (naive parquet timestamps).
- ``nanosAsLong`` — older ``events`` fixture generations stored
  TIMESTAMP(NANOS), which Spark can read only as raw int64; the current
  fixtures are TIMESTAMP(MICROS) (read natively), but the conf stays on
  so ``tables.normalize_events_ts`` can adapt to either encoding.
- Arrow enabled for every Python<->JVM batch boundary (pandas UDFs,
  toPandas) — the only acceptable way to cross that boundary at scale.
- A 2048-entry generated-class cache (``spark.sql.codegen.cache.maxEntries``,
  default 100). One pass over the 20 headline queries needs about 500
  distinct whole-stage-codegen classes, so at 100 every class is evicted
  before its query comes round again: a steady ``local[4]`` pass then
  Janino-compiled 540-590 classes and the JIT recompiled the fresh
  bytecode; at 2048 it compiles 0-28. The conf is static, so it can only
  be set when the session is built (see :func:`apply_runtime_confs`).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: SQL confs that are runtime-settable and required for correct semantics
#: even when the SparkSession is handed to us by an external driver.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def pin_active_session(spark: SparkSession) -> None:
    """Make ``spark`` the active session in the CURRENT thread.

    py4j pinned-thread mode maps each Python thread to its own JVM
    thread whose active-session thread-local starts empty; JVM-side
    lookups that consult the active session (Python DataSource
    registry resolution, some ML/Arrow conf reads) then fail or fall
    back to defaults. Any code that submits Spark work from worker
    threads (concurrent rollup deliveries, the lsh-suite's parallel
    trainer chains) calls this first. No-op on the main thread and on
    non-classic sessions (e.g. connect)."""
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except AttributeError:
        pass


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The driver contract (``__spark_entry__.py``) hands us a SparkSession we
    did not build; these confs are all SQL-layer and safe to set live.
    A deployment that locks one of them (``CANNOT_MODIFY_*``) keeps its
    own value; any other failure raises. Static confs such as the
    codegen class cache cannot be set here at all, so an externally
    built session keeps whatever its launcher set (DEPLOY.md).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if not (e.getCondition() or "").startswith("CANNOT_MODIFY_"):
                raise
    return spark


def get_spark(
    app_name: str = "custom-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized like the bench environment.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (bench contract) or all cores.
    ``shuffle_partitions`` defaults to 2x cores — at cluster scale this is
    instead sized by AQE's coalescing from an intentionally-high initial
    number, which we also enable.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or (2 * os.cpu_count() if cpus == "*" else 2 * int(cpus))))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
