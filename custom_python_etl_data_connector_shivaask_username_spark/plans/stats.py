"""X31: ANALYZE-style table statistics feeding a join-order planner.

Spark's CBO can only reorder what the catalog has statistics for —
path-based parquet reads (this engine's storage model, `tables.py:73`)
have none, so a multi-way join is planned purely syntactically: the
join tree the user wrote is the join tree that runs, and whether a dim
broadcasts depends on file-size estimates alone. At 100 TB a
wrong-ordered star join is the difference between shuffling the fact
table once and shuffling an inflated intermediate twice.

This module closes that gap the warehouse way (Selinger et al.,
"Access Path Selection in a Relational Database Management System",
SIGMOD 1979 — the public cost-model lineage every optimizer cites):

- ``collect_table_stats`` — ONE aggregation pass over the table
  computes row count plus per-column NDV (HyperLogLog++ via
  ``approx_count_distinct``), min/max, and null count; on-disk bytes
  come from the file index (metadata-only). Cost: one scan, mergeable
  partials, no shuffle beyond the final 1-row agg — safe to run on the
  largest table in the lake.
- ``estimate_join_rows`` — the classic equi-join cardinality model
  |L ⋈ R| = |L|·|R| / max(ndv(L.k), ndv(R.k)), with a containment
  refinement from min/max when the key ranges barely overlap.
- ``estimate_range_rows`` / ``apply_filter_to_stats`` — metadata-only
  filter modeling from min/max containment: the stats a table WOULD
  have after a range or equality predicate, without scanning — so
  filtered tables enter join planning for free.
- ``plan_join_tree`` — greedy left-deep join ordering over a join
  graph: start from the cheapest edge, repeatedly fold in the
  connected table that minimizes the estimated intermediate, and
  attach an explicit ``broadcast()`` hint whenever the incoming
  table's estimated bytes clear ``spark.sql.autoBroadcastJoinThreshold``.
  The output is a plain DataFrame — Catalyst still picks physical
  operators; the planner only contributes the order and the hints,
  exactly the two decisions statistics-blind Spark gets wrong.

The planner never invents a cartesian product: tables only join along
declared edges, and a disconnected join graph raises instead of
silently cross-joining.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import bytes_conf

#: fallback estimated row width when on-disk size is unknown
_DEFAULT_ROW_BYTES = 64

#: column types whose NDV/min/max are collected (atomic, orderable)
_STAT_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string", "boolean",
)


def _is_stat_type(dt: str) -> bool:
    return dt in _STAT_TYPES or dt.startswith("decimal")


def _stat_cols(
    df: DataFrame, columns: list[str] | None
) -> list[tuple[str, str]]:
    """(name, simple type) for every atomic column stats are collected
    on (or the requested subset)."""
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if (columns is None or f.name in columns)
        and _is_stat_type(f.dataType.simpleString())
    ]


def _scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the frame's file scan (metadata-only via
    the Hadoop file index); None when the frame is not a file scan
    (``inputFiles()`` is then empty) or a file vanished under it."""
    from py4j.protocol import Py4JJavaError

    try:
        files = df.inputFiles()
        if not files:
            return None
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        conf = sc._jsc.hadoopConfiguration()
        size_bytes = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size_bytes += p.getFileSystem(conf).getFileStatus(p).getLen()
        return size_bytes
    except Py4JJavaError:
        return None


def collect_table_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    path: str | None = None,
    rsd: float = 0.05,
) -> dict[str, Any]:
    """One-pass ANALYZE: row count + per-column (ndv, min, max,
    null_count) for every atomic column (or the requested subset), and
    total on-disk bytes when the frame is a file scan. All aggregates
    are mergeable partials — one scan, one 1-row result."""
    cols = _stat_cols(df, columns)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, _ in cols:
        aggs += [
            F.approx_count_distinct(name, rsd).alias(f"__ndv__{name}"),
            F.min(name).alias(f"__min__{name}"),
            F.max(name).alias(f"__max__{name}"),
            F.count(name).alias(f"__nn__{name}"),
        ]
    row = df.agg(*aggs).first().asDict()
    n = row["__rows"]
    stats: dict[str, Any] = {
        "row_count": n,
        "size_bytes": _scan_bytes(df),
        "columns": {},
    }
    for name, dt in cols:
        stats["columns"][name] = {
            "type": dt,
            "ndv": row[f"__ndv__{name}"],
            "min": row[f"__min__{name}"],
            "max": row[f"__max__{name}"],
            "null_count": n - row[f"__nn__{name}"],
        }
    if path is not None:
        stats["path"] = path
    return stats


def stats_from_plan(df: DataFrame) -> dict[str, Any]:
    """Planner statistics for a DERIVED frame (aggregate, union, join
    output) from Catalyst's own logical-plan statistics — zero scans
    (X57, round 12: the planner-dogfooding bridge).

    ``optimizedPlan().stats()`` always carries ``sizeInBytes``
    (propagated bottom-up from scan sizes through Catalyst's per-node
    visitors) and, when size-only estimation can, a ``rowCount``.
    Both land in the planner's stats-dict shape; a missing rowCount
    stays None and `plan_join_tree`'s conservative-huge rule derives
    rows from bytes at the default width. No column stats (Catalyst
    keeps none without CBO ANALYZE) — callers with better knowledge
    (e.g. "this aggregate is per-customer") should overlay
    ``columns``/``row_count`` from the base table's stats instead.

    KNOWN BIAS, measured on this Spark (round 12): size-only
    estimation passes the CHILD's sizeInBytes through both Aggregate
    and Generate nodes. For aggregates that is pessimistic (never a
    mistaken broadcast — safe). For Generate (explode) it is
    OPTIMISTIC — an exploded-grams frame measured 27.8 KB claimed vs
    ~700 KB real at sf0.01, a gap that GROWS with scale — so a
    generator-heavy frame fed to `plan_join_tree` through this bridge
    could be mistakenly broadcast at exactly the scale where that
    kills the driver. Callers MUST overlay honest bounds for frames
    downstream of explode (see `lm_quality_scores` for the pattern:
    gram mass bounded by base text bytes from the base table)."""
    js = df._jdf.queryExecution().optimizedPlan().stats()
    # py4j auto-converts scala.math.BigInt via its int view on some
    # call paths and hands back the object on others — str() is the
    # one rendering both share
    size = int(str(js.sizeInBytes()))
    rc = js.rowCount()
    return {
        "row_count": int(str(rc.get())) if rc.isDefined() else None,
        "size_bytes": size,
        "columns": {},
    }


#: types whose values map onto the numeric axis as themselves
_NUMERIC_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)


def _kind_of(dt: str) -> str | None:
    """Axis kind for a column type; None when the type has no
    numeric axis (strings, booleans)."""
    if dt in _NUMERIC_TYPES or dt.startswith("decimal"):
        return "numeric"
    if dt in ("date", "timestamp", "timestamp_ntz"):
        return dt
    return None


def _axis_value(v: Any, kind: str) -> float | None:
    """A python-side value (a collected min/max or a user predicate
    bound) mapped onto a numeric axis: "numeric" = the value; "date" =
    epoch days; "timestamp" = true epoch micros; "timestamp_ntz" =
    wall-clock micros as if the wall clock were UTC. Naive datetimes
    are driver-local for kind "timestamp" (that is what `.first()`
    hands back for an instant) and plain wall clocks for
    "timestamp_ntz"; ISO strings parse too."""
    import datetime as _dt

    if v is None:
        return None
    if kind == "numeric":
        return float(v)
    if kind == "date":
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return float((v - _dt.date(1970, 1, 1)).days)
        return float(v)
    if kind == "timestamp":
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, _dt.datetime):
            # .timestamp() resolves a naive datetime in the DRIVER's
            # zone — the inverse of TimestampType collect — and an
            # aware one exactly; both land on true epoch micros.
            return v.timestamp() * 1e6
        return float(v)
    if kind == "timestamp_ntz":
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, _dt.datetime):
            # ntz IS a wall clock: strip any tz and measure as-if-UTC
            wall = v.replace(tzinfo=_dt.timezone.utc)
            epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            return (wall - epoch).total_seconds() * 1e6
        return float(v)
    raise ValueError(f"no axis for kind {kind!r}")


def estimate_range_rows(
    stats: dict[str, Any],
    col: str,
    lo: Any = None,
    hi: Any = None,
) -> float:
    """Estimated rows with ``lo <= col <= hi`` (either bound may be
    None = unbounded) by min/max range containment, or ``row_count``
    when the column has no min/max."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    cstat = stats.get("columns", {}).get(col)
    if not cstat:
        return n
    r = _range(stats, col)
    if r is None:
        return n
    axk = _kind_of(cstat.get("type", "")) or "numeric"
    qlo = r[0] if lo is None else max(_axis_value(lo, axk), r[0])
    qhi = r[1] if hi is None else min(_axis_value(hi, axk), r[1])
    span = r[1] - r[0]
    if qhi < qlo:
        return 0.0  # provably outside [min, max]
    nn = n - cstat.get("null_count", 0)
    if not math.isfinite(span):
        # ±DBL_MAX-scale sentinels: the span overflows and any
        # width fraction silently reads as 0 — no information,
        # claim no reduction
        return nn
    if qhi == qlo and span > 0:
        # zero-measure point INSIDE the range: model equality
        # (rows-per-value) — a plain width fraction would claim 0 for
        # a value the stats cannot rule out
        ndv = cstat.get("ndv")
        return nn / float(ndv) if ndv else nn
    frac = 1.0 if span <= 0 else (qhi - qlo) / span
    # containment monotonicity (round 12, hypothesis-found): a narrow
    # range must never estimate BELOW the equality model of a value
    # inside it, or est(A) ≤ est(B) breaks for A ⊆ B exactly at the
    # point/range boundary. Lift only when an NDV was collected:
    # without one the point model claims nn (the no-evidence
    # convention), which is not a floor ranges should inherit.
    ndv = cstat.get("ndv")
    floor = nn / float(ndv) if ndv else 0.0
    return max(nn * frac, floor)


def apply_filter_to_stats(
    stats: dict[str, Any],
    col: str,
    lo: Any = None,
    hi: Any = None,
    eq: Any = None,
) -> dict[str, Any]:
    """Metadata-only filter modeling: the stats dict a table WOULD
    have after ``lo <= col <= hi`` (or ``col = eq``), without
    scanning anything — this is how a filtered table enters
    ``plan_join_tree`` planning at 100 TB (the alternative, collecting
    stats on the filtered frame, is a scan). Row count scales by
    min/max containment (range) or 1/ndv (equality); every column's NDV is
    capped at the new row count; the filtered column's min/max clamp
    to the predicate and its nulls drop to 0 (range/eq predicates
    reject NULL); ``size_bytes`` scales so broadcast decisions track
    the filtered size."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    if n == 0:
        return stats
    cstat = stats.get("columns", {}).get(col, {})
    if eq is not None:
        nn = n - cstat.get("null_count", 0)
        ndv = cstat.get("ndv")
        # no collected NDV for this column → NO reduction: assuming
        # uniqueness is the MOST selective guess, and a wrong est≈1
        # row turns into a broadcast hint on an arbitrarily large
        # table (the planner's fits() sees ~0 bytes)
        est = nn / float(ndv) if ndv else nn
    else:
        est = estimate_range_rows(stats, col, lo, hi)
    sel = min(1.0, est / n)
    new_n = int(round(est))
    out: dict[str, Any] = {
        **stats,
        "row_count": new_n,
        "size_bytes": (
            int(stats["size_bytes"] * sel)
            if stats.get("size_bytes")
            else stats.get("size_bytes")
        ),
        "columns": {},
    }
    for c, cs in stats.get("columns", {}).items():
        cs = dict(cs)
        if cs.get("ndv"):
            cs["ndv"] = max(1, min(int(cs["ndv"]), new_n))
        if c == col:
            cs["null_count"] = 0
            if eq is not None:
                cs["min"] = cs["max"] = eq
                cs["ndv"] = 1
            else:
                # clamp on the shared `_axis_value` axis (numeric AND
                # date/timestamp bounds), keeping the DOMAIN value: a
                # temporal range filter that skipped the clamp left
                # stale wide bounds, silently forfeiting the
                # containment refinement downstream
                kind = _kind_of(cs.get("type", ""))

                def _clamped(cur, bound, keep_greater):
                    try:
                        a = _axis_value(cur, kind)
                        b = _axis_value(bound, kind)
                    except (ValueError, TypeError):
                        return cur
                    if b is None:
                        return cur
                    if a is None:
                        return bound
                    return bound if (b > a) == keep_greater else cur

                if kind in ("numeric", "date", "timestamp", "timestamp_ntz"):
                    if lo is not None:
                        cs["min"] = _clamped(cs.get("min"), lo, True)
                    if hi is not None:
                        cs["max"] = _clamped(cs.get("max"), hi, False)
        else:
            cs["null_count"] = int(round(cs.get("null_count", 0) * sel))
        out["columns"][c] = cs
    return out


def _ndv(stats: dict, col: str, default_rows: int) -> float:
    c = stats.get("columns", {}).get(col)
    if c and c.get("ndv"):
        return max(1.0, float(c["ndv"]))
    return max(1.0, float(default_rows))  # worst case: key is unique


def _range(stats: dict, col: str):
    """(lo, hi) of the column on its numeric axis — numerics directly,
    date/timestamp via `_axis_value`, so temporal join keys get the
    containment refinement too."""
    c = stats.get("columns", {}).get(col)
    if not c:
        return None
    kind = _kind_of(c.get("type", ""))
    if kind is None:
        return None
    try:
        lo = _axis_value(c.get("min"), kind)
        hi = _axis_value(c.get("max"), kind)
    except (TypeError, ValueError):
        return None
    if lo is None or hi is None:
        return None
    return lo, hi


def _cols(spec) -> tuple[str, ...]:
    """Normalize an edge key spec — a column name or a TUPLE of names
    (composite key, round 11) — to a tuple."""
    if isinstance(spec, str):
        return (spec,)
    if isinstance(spec, tuple) and spec and all(
        isinstance(c, str) for c in spec
    ):
        return spec
    raise ValueError(
        f"edge key must be a column name or a non-empty tuple of "
        f"names, got {spec!r}"
    )


def _group_ndv(stats: dict, cols: tuple[str, ...], n: int) -> float:
    """NDV of a key TUPLE: the max over the component columns' NDVs —
    the provable lower bound (the true group NDV is ≥ every
    component's), which is exactly where per-column Selinger
    OVERestimates a composite join's selectivity."""
    return max(_ndv(stats, c, n) for c in cols)


def estimate_join_rows(
    left_stats: dict, lcol, right_stats: dict, rcol
) -> float:
    """Equi-join cardinality: the Selinger formula
    |L|·|R| / max(ndv_l, ndv_r), scaled down by key-range containment
    when min/max show the domains barely overlap (a disjoint-range
    join estimates ~0 instead of |L|·|R|/ndv).

    ``lcol``/``rcol`` may be TUPLES (composite key, round 11): the
    NDV is then the max component NDV (`_group_ndv`); a provably
    disjoint range on ANY component proves zero."""
    nl = max(0, int(left_stats.get("row_count") or 0))
    nr = max(0, int(right_stats.get("row_count") or 0))
    if nl == 0 or nr == 0:
        return 0.0
    lcs, rcs = _cols(lcol), _cols(rcol)
    if len(lcs) != len(rcs):
        raise ValueError(
            f"composite join keys must have equal arity: {lcs} vs {rcs}"
        )
    if len(lcs) > 1:
        for a, b in zip(lcs, rcs):
            rl, rr = _range(left_stats, a), _range(right_stats, b)
            if rl and rr and min(rl[1], rr[1]) < max(rl[0], rr[0]):
                return 0.0  # one disjoint component proves the join empty
        return nl * nr / max(
            _group_ndv(left_stats, lcs, nl), _group_ndv(right_stats, rcs, nr)
        )
    lcol, rcol = lcs[0], rcs[0]  # 1-tuples normalize to the plain path
    est = nl * nr / max(_ndv(left_stats, lcol, nl), _ndv(right_stats, rcol, nr))
    rl, rr = _range(left_stats, lcol), _range(right_stats, rcol)
    if rl and rr:
        lo, hi = max(rl[0], rr[0]), min(rl[1], rr[1])
        spans = (rl[1] - rl[0]) * (rr[1] - rr[0])
        if hi < lo:
            return 0.0
        if spans > 0:
            overlap = min(
                1.0,
                max(
                    (hi - lo) / max(rl[1] - rl[0], 1e-12),
                    (hi - lo) / max(rr[1] - rr[0], 1e-12),
                ),
            )
            est *= overlap
    return est


def _part_satisfied(
    keys: set, table: str, cols: tuple[str, ...]
) -> bool:
    """Whether an accumulated hash partitioning satisfies an edge on
    ``cols``: some (owner, partition-tuple) entry matches the table and
    its tuple is a SUBSET of the edge columns (HashPartitioning(a, b)
    satisfies ClusteredDistribution(cols) iff {a, b} ⊆ cols)."""
    cs = set(cols)
    return any(t == table and set(pt) <= cs for t, pt in keys)


def _scan_part_satisfied(
    scan_keys: dict, table: str, cols: tuple[str, ...]
) -> bool:
    """Whether a table's DECLARED scan partitioning (bucketing) lets it
    join on ``cols`` shuffle-free — same subset rule as
    :func:`_part_satisfied` (round 11: the old single-column membership
    check would claim a free shuffle for a table bucketed on (a, b)
    joining on a alone, which Catalyst cannot deliver)."""
    ks = scan_keys.get(table)
    return bool(ks) and set(ks) <= set(cols)


def _est_bytes(stats: dict, est_rows: float) -> float:
    """Estimated in-memory bytes for ``est_rows`` rows of this table:
    measured bytes-per-row when the file index gave a size, else a
    conservative default width."""
    n = max(1, int(stats.get("row_count") or 1))
    size = stats.get("size_bytes")
    width = (size / n) if size else _DEFAULT_ROW_BYTES
    return est_rows * max(width, 8.0)


def plan_join_tree(
    tables: dict[str, DataFrame],
    edges: list[tuple[str, str, str, str]],
    stats: dict[str, dict] | None = None,
    how: str = "inner",
    broadcast_threshold: int | None = None,
    partitioned_on: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Greedy left-deep join ordering with stats-driven broadcast hints.

    ``edges`` are ``(left_table, left_col, right_table, right_col)``
    equi-join predicates; ``stats`` maps table name → the
    ``collect_table_stats`` dict (missing entries are collected on the
    fly — pass cached stats to keep planning metadata-only). Returns
    the joined DataFrame and the chosen table order (for plan audits).

    Key specs may be column TUPLES (composite keys, round 11):
    ``("fact", ("a", "b"), "dim", ("a", "b"))`` joins on the
    conjunction, estimates with the max component NDV (per-column
    Selinger badly OVERestimates pair-key joins), and threads the
    tuple through the exchange-aware partitioning keys (subset rule).
    Composite cross edges make the bushy rung ineligible (guarded
    fall-through to the greedy).

    Order (``how="inner"`` only — reordering is an inner-join
    identity), three rungs. Rung 1, the broadcast chain (round 9):
    when at most one table exceeds the build budget, the big table
    (or, all fitting, the largest) LEADS and every other table
    hash-attaches map-side — intermediate cardinality is irrelevant
    because nothing materializes between whole-stage-fused
    BroadcastHashJoins, and total data movement (Σ small-table
    bytes) is strictly below any order that additionally broadcasts
    a joined intermediate. Rung 2, the bushy split (round 10): ≥2 big
    tables, each with its own halo of broadcastable tables, meeting
    on big-big edges — each halo component chain-folds independently
    (exchange-free, scan partitioning preserved) and the subtrees
    combine through a recursive call where each subtree is one
    virtual table with estimated rows/bytes, so a subtree that an
    aggressive dim filter shrank below the build budget BROADCASTS
    and the fact behind it never shuffles — the shape no left-deep
    fold can express, because connectivity forces a halo to attach
    only after its fact has already met the intermediate at full
    size. Guarded: every component must hold exactly one big table,
    some real merging must occur, and cross-edge columns must be
    unambiguous in their subtree — otherwise rung 3 proceeds
    unchanged. Rung 3, once ≥2 sides must shuffle: start from the
    edge with the smallest estimated output, then repeatedly
    fold in the edge-connected table minimizing the next
    intermediate's estimated rows — the textbook greedy that gets
    star and snowflake schemas right. Hints (all rungs): an incoming
    table whose estimated bytes are
    under ``spark.sql.autoBroadcastJoinThreshold`` (or the override)
    joins via ``F.broadcast``; when the incoming table is too big to
    broadcast but the ACCUMULATED intermediate fits (the folded-dims
    bundle meeting the fact table), the build side flips —
    ``F.broadcast(cur)`` — so the big table streams through one hash
    join without ever shuffling. Anything larger on both sides is
    left to Catalyst/AQE.

    For outer joins (``how`` = left/right/full/semi/anti) the edge
    ORDER IS THE SEMANTICS — which side is preserved depends on it —
    so the planner folds the edges exactly as written (each edge's
    left table must already be joined; the first edge's left table
    leads) and contributes ONLY broadcast hints, never a reorder,
    swap, or build-side flip. Left/semi/anti joins hint the incoming
    (non-preserved) side; right/full leave hinting to Catalyst (the
    streamed side of a right join and both sides of a full join
    cannot legally broadcast).

    ``partitioned_on`` (round 9) declares tables whose SCAN is
    already hash-partitioned on given columns — bucketed catalog
    tables (`sources/bucketing.py::write_bucketed`) being the
    standard case. The exchange-aware cost then treats a shuffle join
    on a declared bucket key as free for that side (Catalyst elides
    the exchange over a bucketed scan), so the greedy prefers orders
    that exploit the ingest-time shuffle — the whole point of paying
    it once at write time. Declarative because a plain DataFrame does
    not expose its bucketing; declaring a column that is NOT really
    the scan partitioning costs only a mis-ordering, never a wrong
    result (Catalyst inserts the real exchanges regardless).
    """
    if not edges:
        raise ValueError("plan_join_tree needs at least one join edge")
    unknown = {t for e in edges for t in (e[0], e[2])} - set(tables)
    if unknown:
        raise ValueError(f"edges reference unknown tables: {sorted(unknown)}")
    for e in edges:
        if len(_cols(e[1])) != len(_cols(e[3])):
            raise ValueError(
                f"edge {e}: composite key tuples must have equal arity"
            )

    # Explicit predicates (edge_pred) are built as tables[ln][a] ==
    # tables[rn][b]: if two graph names share attribute ids (common
    # lineage — derived frames of one base read, df.alias(), a
    # self-join), both sides can resolve to ONE attribute and the
    # condition goes trivially true / ambiguous. Round 12 (X57,
    # planner dogfooding): instead of rejecting every such graph,
    # shared lineage switches the WHOLE tree to USING-column joins
    # (`on=[name, ...]`) — the analyzer's relation-deduplication rule
    # re-aliases conflicting sides, which is exactly how the
    # hand-written `df.join(other, "key")` chains these graphs come
    # from already work. USING requires name-equal keys per edge and
    # merges each key to a single output column (left side's value for
    # inner/left-family; coalesce for full outer) — graphs needing
    # per-side key columns after an outer join (or differently-named
    # keys) must still pass lineage-distinct frames.
    import re as _re

    attr_ids: dict[str, set[str]] = {}
    lineage_shared = False
    for name in {t for e in edges for t in (e[0], e[2])}:
        out = str(
            tables[name]._jdf.queryExecution().analyzed().outputSet()
        )
        ids = set(_re.findall(r"#(\d+)", out))
        for other, oids in attr_ids.items():
            if ids == oids:
                # the SAME plan under two names (also df.alias(),
                # which keeps ids) stays a loud error: a true
                # self-join needs a distinct plan per graph name so
                # the two sides are distinguishable at all (e.g. a
                # second spark.read of the table gets fresh ids)
                raise ValueError(
                    f"tables {other!r} and {name!r} share ALL attribute "
                    "ids (same underlying plan / alias): self-joins "
                    "through plan_join_tree need a distinct plan per "
                    "graph name (e.g. re-read the table)"
                )
            if ids & oids:
                lineage_shared = True
        attr_ids[name] = ids
    if lineage_shared:
        for e in edges:
            if _cols(e[1]) != _cols(e[3]):
                raise ValueError(
                    "tables in this join graph share attribute ids "
                    "(common lineage / alias), which forces USING-column "
                    f"joins — but edge {e} joins differently-named keys. "
                    "Rename the keys to match or pass lineage-distinct "
                    "frames (e.g. re-read the table)."
                )

    def edge_pred(ln, lc, rn, rc):
        """AND of per-column equalities — one column or a tuple
        (composite key, round 11)."""
        cond = None
        for a, b in zip(_cols(lc), _cols(rc)):
            term = tables[ln][a] == tables[rn][b]
            cond = term if cond is None else cond & term
        return cond

    def edge_on(ln, lc, rn, rc):
        """The ``on=`` argument for an edge: USING column names when
        the graph shares lineage (X57), else the explicit attribute
        predicate (which keeps both key columns in the output — the
        historical form every existing plan pin rides on)."""
        if lineage_shared:
            return list(_cols(lc))
        return edge_pred(ln, lc, rn, rc)

    def edge_filter(cur, ln, lc, rn, rc):
        """Residual predicate for an edge whose BOTH sides are already
        folded. Inexpressible in USING mode (the per-side attributes
        were merged) — such cyclic graphs must pass lineage-distinct
        frames."""
        if lineage_shared:
            raise ValueError(
                f"edge ({ln}, {rn}) is residual (both sides already "
                "joined) but the graph shares lineage: a USING join "
                "merged the key columns, so the residual equality has "
                "nothing to compare. Pass lineage-distinct frames for "
                "cyclic graphs."
            )
        return cur.filter(edge_pred(ln, lc, rn, rc))
    spark = next(iter(tables.values())).sparkSession
    stats = dict(stats or {})
    norm_how = how.replace("_", "").lower()
    hintable = norm_how in ("inner", "left", "leftouter", "leftsemi", "leftanti")
    # only collect the stats this `how` can act on: the inner greedy
    # reads every table's; a left-family fold only sizes the incoming
    # (hintable) sides; right/full take no stats-driven decision at
    # all — scanning N tables to then ignore the numbers is exactly
    # the planning-time cost this module exists to avoid
    if norm_how == "inner":
        need = {t for e in edges for t in (e[0], e[2])}
    elif hintable:
        need = {e[2] for e in edges}
    else:
        need = set()
    for name in need:
        if name not in stats:
            stats[name] = collect_table_stats(tables[name])
    # unknown cardinality resolves conservatively HUGE (round-9 review
    # finding): a partial entry with row_count=None must never
    # classify as broadcastable — rows derive from size_bytes at the
    # default width when available, else a 2^50 sentinel (with a
    # consistent size so width() stays sane). Everything downstream
    # (fits, leads, comparisons) then treats the table as a fact.
    for name in need:
        st = stats[name]
        if st.get("row_count") is None:
            sz = st.get("size_bytes")
            est = int(sz // _DEFAULT_ROW_BYTES) if sz else (1 << 50)
            stats[name] = {
                **st,
                "row_count": max(1, est),
                "size_bytes": sz if sz else (1 << 50) * _DEFAULT_ROW_BYTES,
            }
    if broadcast_threshold is None:
        broadcast_threshold = bytes_conf(
            spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
        )

    def fits(nbytes: float) -> bool:
        return 0 < broadcast_threshold and nbytes <= broadcast_threshold

    def maybe_broadcast(name: str, est_rows: float):
        t = tables[name]
        if fits(_est_bytes(stats[name], est_rows)):
            return F.broadcast(t)
        return t

    def width(name: str) -> float:
        n = max(1, int(stats[name].get("row_count") or 1))
        size = stats[name].get("size_bytes")
        return (size / n) if size else float(_DEFAULT_ROW_BYTES)

    if norm_how != "inner":
        # syntactic fold: user order IS the outer-join semantics
        lead = edges[0][0]
        cur = tables[lead]
        joined = {lead}
        order = [lead]
        for ln, lc, rn, rc in edges:
            if ln not in joined:
                raise ValueError(
                    f"non-inner edges must chain left-to-right: {ln!r} "
                    f"is not joined yet when edge ({ln}, {rn}) arrives"
                )
            if norm_how in ("leftsemi", "leftanti") and ln != lead:
                # a semi/anti join keeps ONLY the left side's columns,
                # so a later edge rooted at a previously-folded right
                # table would reference attributes the plan no longer
                # has — reject up front instead of failing analysis
                raise ValueError(
                    f"semi/anti chains must root every edge at the lead "
                    f"table {lead!r}; edge ({ln}, {rn}) roots at {ln!r} "
                    "whose columns the semi/anti join already dropped"
                )
            if rn in joined:
                raise ValueError(
                    f"table {rn!r} appears as the incoming side of two "
                    "edges; non-inner folds join each table once"
                )
            inc = (
                maybe_broadcast(rn, stats[rn]["row_count"])
                if hintable
                else tables[rn]
            )
            cur = cur.join(inc, on=edge_on(ln, lc, rn, rc), how=how)
            joined.add(rn)
            order.append(rn)
        return cur, order

    scan_keys = {
        n: set(cols) for n, cols in (partitioned_on or {}).items()
    }

    def fold_estimate(e, owner, cur_col, incoming, inc_col, cur_rows):
        """Estimated rows after folding ``incoming`` into an
        intermediate of ``cur_rows`` rows whose ``cur_col`` attribute
        comes from ``owner`` — shared by the greedy's cand_est and the
        chain/bushy subtree estimators. The owner's key stats are used
        with NDV capped at cur_rows (a selective fold already paid that
        selectivity). Composite (tuple) keys build the view over every
        component, all NDVs capped at cur_rows."""

        def capped(cs):
            if cs.get("ndv"):
                cs = {**cs, "ndv": max(1, min(int(cs["ndv"]), int(cur_rows) or 1))}
            return cs

        colmap = {}
        for c in _cols(cur_col):
            cs = stats[owner]["columns"].get(c)
            if cs:
                colmap[c] = capped(cs)
        cur_view = {"row_count": cur_rows, "columns": colmap}
        return estimate_join_rows(cur_view, cur_col, stats[incoming], inc_col)

    def chain_fold(lead, fold_edges):
        """Broadcast-chain fold: ``lead`` streams, every other table
        hash-attaches map-side via an explicit broadcast hint;
        redundant edges between already-joined tables become filters.
        Returns (df, order, estimated_rows)."""
        cur = tables[lead]
        joined = {lead}
        order = [lead]
        est = float(max(0, stats[lead]["row_count"] or 0))
        remaining = list(fold_edges)
        while remaining:
            progressed = False
            for e in list(remaining):
                ln, lc, rn, rc = e
                if ln in joined and rn in joined:
                    cur = edge_filter(cur, ln, lc, rn, rc)
                elif ln in joined:
                    est = fold_estimate(e, ln, lc, rn, rc, est)
                    cur = cur.join(
                        F.broadcast(tables[rn]),
                        on=edge_on(ln, lc, rn, rc),
                    )
                    joined.add(rn)
                    order.append(rn)
                elif rn in joined:
                    est = fold_estimate(e, rn, rc, ln, lc, est)
                    cur = cur.join(
                        F.broadcast(tables[ln]),
                        on=edge_on(rn, rc, ln, lc),
                    )
                    joined.add(ln)
                    order.append(ln)
                else:
                    continue
                remaining.remove(e)
                progressed = True
            if not progressed:
                raise ValueError(
                    "join graph is disconnected: cannot reach "
                    f"{sorted({t for e in remaining for t in (e[0], e[2])} - joined)}"
                )
        return cur, order, est

    # Broadcast-chain rung (round 9): if at most ONE table exceeds the
    # build budget, intermediate cardinality is the WRONG objective —
    # a plan where the big table (or, all fitting, the largest) leads
    # and every other table hash-attaches map-side moves exactly
    # Σ small-table bytes and materializes nothing between
    # whole-stage-fused BroadcastHashJoins (zero exchanges on the
    # streamed side). Any dim-led order broadcasts those same tables
    # AND the joined intermediate on top. Cardinality-greedy ordering
    # only starts to matter once ≥2 sides must shuffle.
    sizes = {
        n: _est_bytes(stats[n], float(stats[n]["row_count"])) for n in need
    }
    big = [n for n in sizes if not fits(sizes[n])]
    if len(big) <= 1 and broadcast_threshold > 0 and len(sizes) > 1:
        lead = big[0] if big else max(sizes, key=lambda n: sizes[n])
        cur, order, _ = chain_fold(lead, edges)
        return cur, order

    # Bushy rung (round 10): ≥2 big tables, each carrying its OWN halo
    # of broadcastable tables, meeting on big-big edges — the shape a
    # left-deep fold cannot express: connectivity forces one side's
    # halo to attach only AFTER the facts meet, so the un-shrunk fact
    # shuffles at full size. Here each component (big-big edges
    # removed) chain-folds independently — every halo table fits by
    # construction, so a subtree is exchange-free and PRESERVES its
    # big table's scan partitioning — then the subtrees combine
    # through a recursive plan_join_tree call where each subtree is
    # one "table" with estimated rows/bytes: a subtree whose estimate
    # shrank below the build budget broadcasts (the fact behind it
    # never shuffles at all), and a declared bucket key on a big
    # table survives to the combine via partitioned_on (the
    # round-9 lookahead myopia: the fold-level greedy could not see
    # that a bucketed pair pays off downstream; at the subtree level
    # the credit is visible to the combine's exchange-aware cost).
    # Guarded: inner joins, every component exactly one big table,
    # real merging happened, and no ambiguous cross columns —
    # anything else falls through to the left-deep greedy unchanged.
    if len(big) >= 2 and broadcast_threshold > 0:
        bigset = set(big)

        def is_cross(e):
            return e[0] in bigset and e[2] in bigset

        cross = [e for e in edges if is_cross(e)]
        halo = [e for e in edges if not is_cross(e)]
        if any(len(_cols(e[1])) > 1 for e in cross):
            # composite cross edges: the subtree column-stat surfacing
            # below is single-column; fall through to the greedy, which
            # handles tuple keys end-to-end (round 11 — guarded, like
            # every other bushy ineligibility)
            cross = []
        parent = {n: n for n in need}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ln, _lc, rn, _rc in halo:
            parent[find(ln)] = find(rn)
        members: dict[str, list[str]] = {}
        for n in need:
            members.setdefault(find(n), []).append(n)
        comps = list(members.values())
        ok = (
            cross
            and len(comps) >= 2
            and all(len(set(ms) & bigset) == 1 for ms in comps)
            and any(len(ms) > 1 for ms in comps)
        )
        if ok:
            # name each subtree after its big table; rebuild comp_of
            # with that name for every member
            comp_of = {}
            for ms in comps:
                cname = next(iter(set(ms) & bigset))
                for m in ms:
                    comp_of[m] = cname
            sub_tables: dict[str, DataFrame] = {}
            sub_stats: dict[str, dict] = {}
            sub_order: dict[str, list[str]] = {}
            sub_part: dict[str, list[str]] = {}
            ambiguous = False
            for ms in comps:
                cname = comp_of[ms[0]]
                comp_edges = [
                    e for e in halo if e[0] in ms and e[2] in ms
                ]
                df, order, est = chain_fold(cname, comp_edges)
                cols = list(df.columns)
                width_sum = sum(width(m) for m in ms)
                colstats: dict[str, Any] = {}
                colowner: dict[str, str] = {}
                for e in cross:
                    for tn, tc in ((e[0], e[1]), (e[2], e[3])):
                        if tn not in ms:
                            continue
                        # ambiguous only when the NAME resolves to two
                        # attributes in this subtree — the same (table,
                        # column) appearing in two cross edges (shared-
                        # key fact chains: f1⋈f2 on b, f2⋈f3 on b) is
                        # one attribute, not a conflict (round-10
                        # review finding: the old `tc in colstats`
                        # check made every shared-key chain bail)
                        if cols.count(tc) != 1 or (
                            tc in colowner and colowner[tc] != tn
                        ):
                            ambiguous = True
                        colowner[tc] = tn
                        cs = stats[tn]["columns"].get(tc)
                        if cs:
                            cs = dict(cs)
                            if cs.get("ndv"):
                                cs["ndv"] = max(
                                    1, min(int(cs["ndv"]), int(est) or 1)
                                )
                            colstats[tc] = cs
                sub_tables[cname] = df
                sub_stats[cname] = {
                    "row_count": max(1, int(est)),
                    "size_bytes": int(max(1.0, est) * width_sum),
                    "columns": colstats,
                }
                sub_order[cname] = order
                # chain folds are all broadcasts: the subtree keeps the
                # big table's scan partitioning (unambiguous keys only)
                sub_part[cname] = [
                    k
                    for k in scan_keys.get(cname, ())
                    if cols.count(k) == 1
                ]
            if not ambiguous:
                sub_edges = [
                    (comp_of[e[0]], e[1], comp_of[e[2]], e[3])
                    for e in cross
                ]
                joined, rec_order = plan_join_tree(
                    sub_tables,
                    sub_edges,
                    stats=sub_stats,
                    broadcast_threshold=broadcast_threshold,
                    partitioned_on={
                        c: ks for c, ks in sub_part.items() if ks
                    }
                    or None,
                )
                return joined, [
                    t for c in rec_order for t in sub_order[c]
                ]

    def edge_cost(e):
        # first-edge twin of cand_cost: output estimate + the rows
        # each non-broadcastable side must shuffle (a side whose scan
        # is already partitioned on its edge key shuffles nothing).
        # When EITHER side fits the broadcast budget the edge executes
        # as a BHJ and neither side shuffles — matching cand_cost's
        # fits(inc_bytes) early return; charging the big side anyway
        # over-costs a fact-dim first edge relative to a fact-fact one
        # (round-9 advisory)
        cost = estimate_join_rows(stats[e[0]], e[1], stats[e[2]], e[3])
        sides = [
            (name, key, float(max(0, stats[name]["row_count"] or 0)))
            for name, key in ((e[0], e[1]), (e[2], e[3]))
        ]
        if any(fits(_est_bytes(stats[n], r)) for n, _k, r in sides):
            return cost
        for name, key, n in sides:
            if not _scan_part_satisfied(scan_keys, name, _cols(key)):
                cost += n
        return cost

    first = min(edges, key=edge_cost)
    # smaller side leads (it is the build side of everything after)
    lname, lcol, rname, rcol = first
    if stats[rname]["row_count"] < stats[lname]["row_count"]:
        lname, lcol, rname, rcol = rname, rcol, lname, lcol

    joined = set()
    order: list[str] = []
    nl = stats[lname]["row_count"]
    cur = maybe_broadcast(lname, nl) if nl else tables[lname]
    cur_rows = float(max(0, nl or 0))
    cur_width = width(lname)  # accumulated bytes-per-row estimate
    # hash-partitioning keys, keyed by (owner table, COLUMN TUPLE) —
    # never bare column name, so a later edge whose key merely SHARES
    # a name with a prior join key (two tables both named 'id') is not
    # costed as shuffle-free (round-9 advisory: mirrors cand_est's
    # per-owner stats lookup). Tuples (round 11) because a partitioning
    # on (a, b) satisfies an edge only if {a, b} ⊆ the edge's columns —
    # per-column entries would claim a free shuffle a multi-column
    # bucketing cannot deliver. A bucketed lead starts pre-partitioned
    # on its full declared set.
    cur_keys: set[tuple[str, tuple[str, ...]]] = (
        {(lname, tuple(sorted(scan_keys[lname])))}
        if scan_keys.get(lname)
        else set()
    )
    joined.add(lname)
    order.append(lname)

    remaining = list(edges)
    while remaining:
        candidates = []
        for e in remaining:
            ln, lc, rn, rc = e
            if ln in joined and rn not in joined:
                candidates.append((e, rn, rc, lc, ln))
            elif rn in joined and ln not in joined:
                candidates.append((e, ln, lc, rc, rn))
            elif ln in joined and rn in joined:
                candidates.append((e, None, None, None, None))
        if not candidates:
            raise ValueError(
                "join graph is disconnected: cannot reach "
                f"{sorted({t for e in remaining for t in (e[0], e[2])} - joined)}"
            )

        def cand_est(c):
            e, incoming, inc_col, cur_col, owner = c
            if incoming is None:
                return -1.0  # residual predicate on already-joined tables: free
            # the accumulated side's key stats come from the table
            # that OWNS the column (equi-joins preserve key-NDV upper
            # bounds) — looked up per-edge, never merged by bare
            # column name, so same-named columns across tables can't
            # cross-contaminate the estimate; NDV capped at cur_rows —
            # all shared with the chain/bushy estimators via
            # fold_estimate (round 11: one body, tuple keys included)
            return fold_estimate(e, owner, cur_col, incoming, inc_col, cur_rows)

        def cand_cost(c):
            """Exchange-aware cost (round 9): estimated OUTPUT rows
            plus the rows each side must SHUFFLE to execute the fold.
            Cardinality alone is blind to partitioning reuse: a
            shuffle join's output is hash-partitioned on its key, so
            a later edge joining on that same key re-shuffles only
            the incoming side — ordering same-key edges adjacently
            removes a full intermediate exchange, the dominant cost
            once nothing broadcasts. Broadcast folds move no
            partitioned data; the flip ships the intermediate once."""
            e, incoming, inc_col, cur_col, owner = c
            if incoming is None:
                return -1.0  # residual predicate: free
            est = cand_est(c)
            inc_rows = float(max(0, stats[incoming]["row_count"] or 0))
            inc_bytes = _est_bytes(stats[incoming], inc_rows)
            if fits(inc_bytes):
                return est  # BHJ: no exchange on either side
            if fits(cur_rows * cur_width):
                return est + cur_rows  # flip: broadcast cur once
            # a side shuffles free when its existing hash partitioning
            # is a SUBSET of this edge's key columns (HashPartitioning
            # satisfies ClusteredDistribution by subset) — composite
            # keys thread through as tuples (round 11)
            reshuffle_cur = (
                0.0
                if _part_satisfied(cur_keys, owner, _cols(cur_col))
                else cur_rows
            )
            shuffle_inc = (
                0.0
                if _scan_part_satisfied(scan_keys, incoming, _cols(inc_col))
                else inc_rows
            )
            return est + reshuffle_cur + shuffle_inc

        best = min(candidates, key=cand_cost)
        e, incoming, inc_col, cur_col, _owner = best
        remaining.remove(e)
        ln, lc, rn, rc = e
        if incoming is None:
            cur = edge_filter(cur, ln, lc, rn, rc)
            continue
        est = cand_est(best)
        inc_bytes = _est_bytes(
            stats[incoming], stats[incoming]["row_count"]
        )
        pred = edge_on(ln, lc, rn, rc)
        if fits(inc_bytes):
            cur = cur.join(
                maybe_broadcast(incoming, stats[incoming]["row_count"]),
                on=pred,
                how=how,
            )
            # broadcast fold: cur's partitioning is untouched
        elif not fits(cur_rows * cur_width):
            cur = cur.join(tables[incoming], on=pred, how=how)
            # shuffle join: the output is co-partitioned on BOTH key
            # tuples — later same-key edges reuse the exchange
            cur_keys = {
                (_owner, _cols(cur_col)),
                (incoming, _cols(inc_col)),
            }
        else:
            # build-side flip: the incoming table is too big to
            # broadcast but the accumulated intermediate FITS — hint
            # the intermediate as the build side so the big table
            # streams unshuffled (inner joins only; this branch is
            # unreachable for outer joins, which take the syntactic
            # fold above). The output inherits the streamed side's
            # SCAN partitioning (a BHJ disturbs nothing), so a
            # declared bucket key on the streamed table stays a
            # reusable hash key (round 10 — previously cleared
            # conservatively, costing a bucketed streamed fact a
            # phantom re-shuffle on its own key).
            cur = tables[incoming].join(F.broadcast(cur), on=pred)
            cur_keys = (
                {(incoming, tuple(sorted(scan_keys[incoming])))}
                if scan_keys.get(incoming)
                else set()
            )
        cur_rows = est
        cur_width += width(incoming)
        joined.add(incoming)
        order.append(incoming)
    return cur, order

