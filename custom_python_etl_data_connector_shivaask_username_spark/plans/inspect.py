"""Physical-plan inspection utilities (SURVEY.md §4 / M8).

The scale contract of this engine is enforceable: filters reach the
parquet scan, projections prune columns, small dims broadcast, top-k
never fully sorts. These helpers turn those properties into assertions
so plan regressions fail tests instead of surfacing as 100 TB incidents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out = []
    for line in formatted_plan(df).splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            out.append(s.removeprefix("PushedFilters:").strip())
    return out


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — the column-pruning audit."""
    return [
        line.strip().removeprefix("ReadSchema:").strip()
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("ReadSchema:")
    ]


def has_node(df: DataFrame, node_name: str) -> bool:
    return node_name in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (BroadcastExchange excluded) — the
    number that must not grow with refactors."""
    import re

    # count detail-section headers only ("(7) Exchange"), not the duplicate
    # tree-rendering lines ("+- Exchange (7)")
    return len(
        re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.MULTILINE)
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (driver
    and, in local mode, executors). A class served from Spark's codegen
    cache does not count, so the difference across a re-run says how
    much of it recompiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
