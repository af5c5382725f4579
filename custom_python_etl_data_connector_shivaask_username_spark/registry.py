"""Query/oracle registry — the driver contract's backbone.

Every operator in SURVEY.md §2 lands as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string producing identical column names and values. The driver
runs both sides at sf0.01 and hash-compares; genuinely non-SQL ops
register with ``oracle=None`` and get a rows-only check.

Determinism rules enforced by convention here (see compat.py):
- alias every computed column identically in DataFrame and SQL;
- exact-decimal aggregation for float sums/avgs (bit-identical doubles);
- ``sort_array`` around any collected list;
- seeded sampling only;
- UTC session timezone.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(
    name: str, oracle: Optional[str] = None, plan_memo: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL).

    ``plan_memo=True`` (round 15, VERDICT r14 ask #6) serves repeat
    constructions from `tables.memoized_plan` — keyed on the session's
    planning-conf state, so a conf change or an invalidation
    still constructs fresh while identical state returns the identical
    immutable frame in ~0. Opt-in and only
    for SIDE-EFFECT-FREE constructions: a query that maintains state
    per call (q_rollup_incremental's store refreshes) must never be
    memoized, because skipping the work would change what the row
    measures."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        out = fn
        if plan_memo:
            import functools

            @functools.wraps(fn)
            def memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
                from .tables import memoized_plan

                return memoized_plan(
                    spark, sf_dir, name, lambda: fn(spark, sf_dir)
                )

            out = memoized
        QUERIES[name] = out
        if oracle is not None:
            ORACLE[name] = oracle
        return out

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent).

    The total registered-query count is deliberately held ≤ 50 so every
    query lands inside the driver's per-round check window (round 1
    registered 72 and the last 22 — windows, sorts, set ops, streaming —
    were never checked). Consolidation, not deletion: merged queries
    cover multiple SURVEY §2 components each (see COVERAGE.md), and
    tests/test_registry_contract.py enforces the cap.
    """
    from .operators import (  # noqa: F401
        aggregates,
        etl_queries,
        llm_curation,
        llm_dedup,
        llm_multimodal,
        llm_similarity,
        llm_text,
        pricing,
        relational,
        rollup,
        scalars,
        setops,
        sorting,
        udf_queries,
        windows,
    )
    from .streaming import (  # noqa: F401
        pipeline,
    )
