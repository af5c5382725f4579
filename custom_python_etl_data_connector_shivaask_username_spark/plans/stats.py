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
  largest table in the lake (sample first if even one scan is too
  much; the estimates degrade gracefully).
- ``write_stats_sidecar`` / ``read_stats_sidecar`` — persist next to
  the data as ``_table_stats.json`` (underscore-prefixed: invisible to
  parquet readers; Hadoop-FS I/O so hdfs:///s3:// stores behave like
  local paths).
- ``estimate_join_rows`` — the classic equi-join cardinality model
  |L ⋈ R| = |L|·|R| / max(ndv(L.k), ndv(R.k)), with a containment
  refinement from min/max when the key ranges barely overlap.
- ``add_histograms`` / ``estimate_range_rows`` /
  ``apply_filter_to_stats`` (X36) — deterministic equi-width
  histograms (one bounded extra scan) and the metadata-only filter
  modeling they enable: the stats a table WOULD have after a range or
  equality predicate, without scanning — so filtered tables enter
  join planning for free.
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

import json
import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layout import fs_read_text, fs_write_text
from ..tables import bytes_conf

STATS_SIDECAR = "_table_stats.json"

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
    """(name, simple type) for every column stats are collected on —
    the single definition all three ANALYZE paths (full, sampled,
    incremental) share, so a new supported type lands everywhere."""
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if (columns is None or f.name in columns)
        and _is_stat_type(f.dataType.simpleString())
    ]


def _scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the frame's file scan (metadata-only via
    the Hadoop file index); None when the frame is not a file scan."""
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
    except Exception:
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
    ``columns``/``row_count`` from the base table's sidecar instead.

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
    gram mass bounded by base text bytes from the sidecar)."""
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


def collect_table_stats_sampled(
    df: DataFrame,
    fraction: float,
    columns: list[str] | None = None,
    path: str | None = None,
    seed: int = 42,
) -> dict[str, Any]:
    """Sample-based ANALYZE for tables where even ONE full scan is too
    much (the 100 TB fact table): statistics from a Bernoulli row
    sample, scaled back up.

    - row count: ``sample_rows / fraction`` (unbiased).
    - null counts: sample null fraction × estimated rows.
    - min/max: the sample's — an UNDER-estimate of the true range
      (extremes are rare); fine for join planning, wrong for bounds
      checks, and flagged as ``"sampled": true`` in the dict.
    - NDV: the GEE estimator (Charikar et al., "Towards Estimation
      Error Guarantees for Distinct Values", PODS 2000):
      ``sqrt(1/q)·f1 + Σ_{j≥2} f_j`` where ``f_j`` counts sample
      values seen exactly j times. Since ``Σ_{j≥2} f_j`` is just
      ``d_sample − f1``, each column needs only its sample
      value-count frame — one small shuffle per column over the
      cached sample, never over the table. GEE's ratio error is
      bounded by ``sqrt(1/q)`` (the pinned guarantee); duplicates-
      heavy columns come out near-exact, unique keys at worst
      ``sqrt(q)``-fraction — both on the conservative side for the
      planner's |L|·|R|/max(ndv) formula.

    The full-scan pass stays the default (`collect_table_stats`);
    this is the documented degrade path its docstring promises.
    """
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    if fraction == 1.0:
        return collect_table_stats(df, columns, path)
    cols = _stat_cols(df, columns)
    sample = df.sample(fraction=fraction, seed=seed)
    sample.persist()
    try:
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for name, _ in cols:
            aggs += [
                F.min(name).alias(f"__min__{name}"),
                F.max(name).alias(f"__max__{name}"),
                F.count(name).alias(f"__nn__{name}"),
            ]
        row = sample.agg(*aggs).first().asDict()
        m = row["__rows"]
        est_rows = int(round(m / fraction))
        stats: dict[str, Any] = {
            "row_count": est_rows,
            "size_bytes": _scan_bytes(df),
            "columns": {},
            "sampled": {
                "fraction": fraction,
                "sample_rows": m,
                "seed": seed,
                "ndv_method": "GEE",
            },
        }
        scale = 1.0 / fraction
        for name, dt in cols:
            fof = (
                sample.groupBy(name)
                .agg(F.count(F.lit(1)).alias("__c"))
                .agg(
                    F.count(F.lit(1)).alias("d"),
                    F.sum(
                        (F.col("__c") == 1).cast("long")
                    ).alias("f1"),
                    F.sum(
                        F.col(name).isNull().cast("long") * F.col("__c")
                    ).alias("nulls"),
                )
                .first()
            )
            d_sample = fof["d"] or 0
            f1 = fof["f1"] or 0
            # the null "value" is not a distinct key value
            if (fof["nulls"] or 0) > 0:
                d_sample -= 1
                if fof["nulls"] == 1:
                    f1 -= 1
            ndv = (
                math.sqrt(scale) * f1 + (d_sample - f1)
                if d_sample > 0
                else 0
            )
            nn = row[f"__nn__{name}"]
            stats["columns"][name] = {
                "type": dt,
                "ndv": int(round(ndv)),
                "min": row[f"__min__{name}"],
                "max": row[f"__max__{name}"],
                "null_count": int(round((m - nn) * scale)),
            }
        if path is not None:
            stats["path"] = path
        return stats
    finally:
        sample.unpersist()


#: default equi-width histogram resolution (X36)
HISTOGRAM_BUCKETS = 64

#: types whose values map to a numeric bucketing axis
_HIST_NUMERIC = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)


def _kind_of(dt: str) -> str | None:
    """Axis kind for a column type; None when the type has no
    numeric bucketing axis (strings, booleans)."""
    if dt in _HIST_NUMERIC or dt.startswith("decimal"):
        return "numeric"
    if dt in ("date", "timestamp", "timestamp_ntz"):
        return dt
    return None


def _hist_axis(c: str, dt: str, session_tz: str):
    """(expression, kind) mapping a column onto the numeric bucketing
    axis — injective and order-preserving, so bucket counts transfer
    back to the original domain. Axis units by kind: "numeric" =
    the value; "date" = epoch days; "timestamp" = TRUE epoch micros
    (tz-free — the driver twin `_axis_value` interprets collected
    naive datetimes as driver-local, matching how PySpark renders
    instants on collect); "timestamp_ntz" = wall-clock micros as if
    the wall clock were UTC (the cast's session-tz offset is undone
    with `from_utc_timestamp`, so the axis is tz-free too — exact
    except inside a DST transition hour, where cast and un-cast read
    the offset at slightly different instants)."""
    col = F.col(c)
    kind = _kind_of(dt)
    if kind == "numeric":
        return col.cast("double"), kind
    if kind == "date":
        return F.unix_date(col).cast("double"), kind
    if kind == "timestamp":
        return F.unix_micros(col).cast("double"), kind
    if kind == "timestamp_ntz":
        wall = F.from_utc_timestamp(col.cast("timestamp"), session_tz)
        return F.unix_micros(wall).cast("double"), kind
    return None, None


def _axis_value(v: Any, kind: str) -> float | None:
    """A python-side value (a collected min/max or a user predicate
    bound) mapped onto the same axis as `_hist_axis`. Naive
    datetimes are driver-local for kind "timestamp" (that is what
    `.first()` hands back for an instant) and plain wall clocks for
    "timestamp_ntz"; ISO strings (a sidecar round-trip that skipped
    `read_stats_sidecar`'s revival) parse too."""
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


def add_histograms(
    df: DataFrame,
    stats: dict[str, Any],
    columns: list[str] | None = None,
    buckets: int = HISTOGRAM_BUCKETS,
) -> dict[str, Any]:
    """X36: equi-width histograms for filter-selectivity estimates.

    ONE additional scan (bucket widths need pass-1's min/max first)
    computes, for every numeric/date/timestamp column (or the
    requested subset), ``buckets`` conditional counts — plain
    map-side-combined partial sums, deterministic on any row order or
    partitioning (unlike ``histogram_numeric``'s order-sensitive
    streaming centroids, which is why this is equi-width). The result
    lands inside the stats dict (and therefore the sidecar):
    ``columns[c]["histogram"] = {lo, hi, counts, kind}``. Cost shape:
    ``buckets × columns`` counters per task — metadata next to the
    scan itself; pass the filter columns you actually plan over.
    """
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    targets = []
    for c, cstat in stats.get("columns", {}).items():
        if columns is not None and c not in columns:
            continue
        axis, kind = _hist_axis(c, cstat.get("type", ""), tz)
        if axis is None:
            continue
        lo = _axis_value(cstat.get("min"), kind)
        hi = _axis_value(cstat.get("max"), kind)
        if lo is None or hi is None or not hi > lo:
            continue
        width_probe = (hi - lo) / buckets
        if not math.isfinite(width_probe) or width_probe <= 4 * max(
            math.ulp(lo), math.ulp(hi)
        ):
            # degenerate range: an infinite span (±DBL_MAX sentinel
            # junk makes hi-lo overflow) or a width at the float
            # spacing of the endpoints makes bucket arithmetic
            # meaningless — lo + i·width rounds back onto lo (or
            # goes nan), floor division goes NULL or collapses, and
            # counts silently zero. Leave the column on the min/max
            # fallback.
            continue
        targets.append((c, axis, kind, lo, hi))
    if not targets:
        return stats
    aggs = []
    for c, axis, kind, lo, hi in targets:
        width = (hi - lo) / buckets
        # clamp BOTH edges: a value nudged outside [lo, hi] by float
        # round-trip lands in an edge bucket instead of vanishing
        b = F.greatest(
            F.lit(0),
            F.least(
                F.lit(buckets - 1),
                F.floor((axis - F.lit(lo)) / F.lit(width)),
            ),
        )
        for i in range(buckets):
            aggs.append(
                F.sum(
                    (axis.isNotNull() & (b == i)).cast("long")
                ).alias(f"__h__{c}__{i}")
            )
    row = df.agg(*aggs).first()
    out = {
        **stats,
        "columns": {k: dict(v) for k, v in stats["columns"].items()},
    }
    for c, _axis, kind, lo, hi in targets:
        out["columns"][c] = {
            **out["columns"][c],
            "histogram": {
                "lo": lo,
                "hi": hi,
                "kind": kind,
                "counts": [row[f"__h__{c}__{i}"] for i in range(buckets)],
            },
        }
    return out


def add_equidepth_histograms(
    df: DataFrame,
    stats: dict[str, Any],
    columns: list[str] | None = None,
    buckets: int = HISTOGRAM_BUCKETS,
    accuracy: int = 10_000,
) -> dict[str, Any]:
    """Equi-DEPTH histograms: bucket BOUNDS at the column's quantiles
    (``percentile_approx``, one scan, mergeable sketch), each bucket
    holding ~``non_null/buckets`` rows by construction. The right
    variant when skew defeats equi-width (one hot value swallows the
    range into a single bucket and every estimate inside it flattens);
    resolution follows the data's density instead of its span.
    Stored as ``columns[c]["histogram"] = {kind, bounds}`` — the same
    slot the equi-width variant uses, and ``estimate_range_rows``
    dispatches on shape."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    targets = []
    for c, cstat in stats.get("columns", {}).items():
        if columns is not None and c not in columns:
            continue
        axis, kind = _hist_axis(c, cstat.get("type", ""), tz)
        if axis is not None:
            targets.append((c, axis, kind))
    if not targets:
        return stats
    qs = [i / buckets for i in range(buckets + 1)]
    aggs = [
        F.percentile_approx(axis, qs, accuracy).alias(f"__q__{c}")
        for c, axis, _ in targets
    ]
    row = df.agg(*aggs).first()
    out = {
        **stats,
        "columns": {k: dict(v) for k, v in stats["columns"].items()},
    }
    for c, _axis, kind in targets:
        bounds = row[f"__q__{c}"]
        if bounds is None or bounds[0] is None:
            continue  # all-null column: nothing to bound
        nn = float(
            (stats.get("row_count") or 0)
            - out["columns"][c].get("null_count", 0)
        )
        out["columns"][c] = {
            **out["columns"][c],
            "histogram": {
                "kind": kind,
                "bounds": [float(b) for b in bounds],
                "rows_per_bucket": nn / buckets,
            },
        }
    return out


def estimate_range_rows(
    stats: dict[str, Any],
    col: str,
    lo: Any = None,
    hi: Any = None,
) -> float:
    """Estimated rows with ``lo <= col <= hi`` (either bound may be
    None = unbounded) from the column's histogram — full buckets
    count whole, edge buckets linearly interpolated. Falls back to
    min/max range containment when no histogram was collected, and
    to ``row_count`` when not even min/max exist."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    cstat = stats.get("columns", {}).get(col)
    if not cstat:
        return n
    hist = cstat.get("histogram")
    if not hist:
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
            # (rows-per-value), matching both histogram paths — a
            # plain width fraction would claim 0 for a value the
            # stats cannot rule out
            ndv = cstat.get("ndv")
            return nn / float(ndv) if ndv else nn
        frac = 1.0 if span <= 0 else (qhi - qlo) / span
        # containment monotonicity (round 12, hypothesis-found — the
        # fallback twin of the round-10 equi-depth lift): a narrow
        # range must never estimate BELOW the equality model of a
        # value inside it, or est(A) ≤ est(B) breaks for A ⊆ B
        # exactly at the point/range boundary. Lift only when an NDV
        # was collected: without one the point model claims nn (the
        # no-evidence convention), which is not a floor ranges
        # should inherit.
        ndv = cstat.get("ndv")
        floor = nn / float(ndv) if ndv else 0.0
        return max(nn * frac, floor)
    kind = hist["kind"]
    if "bounds" in hist:  # equi-depth: quantile bounds, uniform mass
        bounds, rpb = hist["bounds"], hist["rows_per_bucket"]
        qlo = bounds[0] if lo is None else _axis_value(lo, kind)
        qhi = bounds[-1] if hi is None else _axis_value(hi, kind)
        qlo, qhi = max(qlo, bounds[0]), min(qhi, bounds[-1])
        if qhi < qlo:
            return 0.0
        est = 0.0
        for i in range(len(bounds) - 1):
            blo, bhi = bounds[i], bounds[i + 1]
            if bhi < qlo or blo > qhi:
                continue
            span = bhi - blo
            if span <= 0:
                # zero-width bucket = a hot value; in range → whole
                if qlo <= blo <= qhi:
                    est += rpb
                continue
            overlap = min(qhi, bhi) - max(qlo, blo)
            if overlap > 0:
                est += rpb * min(1.0, overlap / span)

        def point(x: float) -> float:
            # rows-per-value for a value inside a continuous bucket —
            # the equality model (a value the stats cannot rule out)
            ndv = float(cstat.get("ndv") or n)
            return rpb / max(1.0, ndv / (len(bounds) - 1))

        # containment monotonicity (hypothesis-found, round 10): the
        # uniform-mass model can assign a RANGE less than the equality
        # model assigns a single value inside it (narrow range at a
        # bucket edge vs the point fallback). Lifting the estimate to
        # its endpoints' point-estimates restores est(A) ≤ est(B) for
        # A ⊆ B: a point-estimate is bucket-constant, and any bucket
        # B partially covers contains one of B's endpoints, while a
        # fully-covered bucket contributes its whole rpb ≥ the point.
        return max(est, point(qlo), point(qhi))
    qlo = hist["lo"] if lo is None else _axis_value(lo, kind)
    qhi = hist["hi"] if hi is None else _axis_value(hi, kind)
    qlo, qhi = max(qlo, hist["lo"]), min(qhi, hist["hi"])
    if qhi < qlo:
        return 0.0
    counts = hist["counts"]
    width = (hist["hi"] - hist["lo"]) / len(counts)
    if width <= 0:
        return float(sum(counts))
    est = 0.0
    for i, cnt in enumerate(counts):
        blo = hist["lo"] + i * width
        # the LAST bucket's upper edge is the declared axis `hi`, not
        # the nominal `blo + width`: `(hi - lo) / B` rounds, so the
        # nominal top can land strictly BELOW `hi`, leaving a float
        # sliver the build-time clamp folded into bucket B-1 — a
        # query inside that sliver must still see the overlap
        # (round 13, hypothesis-found: data [0, 0, 1.4e-45, -1],
        # query [2.2e-313, 1.0] → nominal top 0.0 < hi = 1.4e-45)
        # NB: `lo + (i+1)*width`, NOT `blo + width` — the two differ
        # in the last ulp under accumulation, and the nominal
        # geometry (build-time clamp, gap detection below) is defined
        # on the former
        bhi = (
            hist["hi"]
            if i == len(counts) - 1
            else hist["lo"] + (i + 1) * width
        )
        overlap = min(qhi, bhi) - max(qlo, blo)
        if overlap <= 0:
            continue
        est += cnt * min(1.0, overlap / width)
    # a degenerate point range (lo == hi) has zero measure on a
    # continuous axis; model it like equality instead of 0
    def point(x: float, sliver_ok: bool = False) -> float:
        i = min(len(counts) - 1, int((x - hist["lo"]) / width))
        blo = hist["lo"] + i * width
        bhi = hist["lo"] + (i + 1) * width
        if not (blo <= x <= bhi):
            # x sits in the rounding sliver ABOVE the last bucket's
            # nominal top: that bucket's count there is exactly the
            # values the clamp displaced. In the RANGE-lift path the
            # interpolated overlap (already in `est`) is the honest
            # price — pricing a sliver point at the whole bucket was
            # the round-12 counterexample — so the lift contributes
            # nothing. But a DEGENERATE point query (est == 0,
            # qlo == qhi) carries no overlap at all, and x ≤ hi is an
            # observed value (hi is the column max): hard-zeroing it
            # rules out an existing value (round-13 advisor finding).
            # There the bucket-B-1 equality estimate is the honest
            # price: the sliver's mass IS in that bucket by clamp.
            if not (sliver_ok and hist["lo"] <= x <= hist["hi"]):
                return 0.0
        ndv = float(stats.get("columns", {}).get(col, {}).get("ndv") or n)
        return counts[i] / max(1.0, ndv / len(counts))

    if est == 0.0 and qlo == qhi:
        return point(qlo, sliver_ok=True)
    # containment monotonicity (round 12 — the equi-width twin of the
    # round-10 equi-depth lift): a narrow range never estimates below
    # its endpoints' point models, restoring est(A) ≤ est(B) for
    # A ⊆ B across the point/range boundary
    return max(est, point(qlo), point(qhi))


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
    stats on the filtered frame, is a scan). Row count scales by the
    histogram (range) or 1/ndv (equality); every column's NDV is
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
        cs.pop("histogram", None)  # no longer valid post-filter
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


def write_stats_sidecar(
    spark: SparkSession, path: str, stats: dict[str, Any]
) -> None:
    fs_write_text(
        spark,
        f"{path.rstrip('/')}/{STATS_SIDECAR}",
        json.dumps(stats, default=str),
    )


def _revive_stats(stats: dict[str, Any]) -> dict[str, Any]:
    """Undo the sidecar's `default=str` JSON coercion: date/timestamp
    min/max come back as ISO strings (str() of a datetime IS ISO with
    a space separator) and decimals as digit strings — parse them back
    to the python types the collectors produce, so a sidecar-loaded
    dict behaves identically in `add_histograms` / `_range`."""
    import datetime as _dt

    for cs in stats.get("columns", {}).values():
        dt = cs.get("type", "")
        for k in ("min", "max"):
            v = cs.get(k)
            if not isinstance(v, str):
                continue
            try:
                if dt == "date":
                    cs[k] = _dt.date.fromisoformat(v)
                elif dt in ("timestamp", "timestamp_ntz"):
                    cs[k] = _dt.datetime.fromisoformat(v)
                elif dt.startswith("decimal"):
                    cs[k] = float(v)
            except ValueError:
                pass  # leave the raw string; estimators skip it
    return stats


def read_stats_sidecar(
    spark: SparkSession, path: str
) -> dict[str, Any] | None:
    raw = fs_read_text(spark, f"{path.rstrip('/')}/{STATS_SIDECAR}")
    return None if raw is None else _revive_stats(json.loads(raw))


def _ndv(stats: dict, col: str, default_rows: int) -> float:
    c = stats.get("columns", {}).get(col)
    if c and c.get("ndv"):
        return max(1.0, float(c["ndv"]))
    return max(1.0, float(default_rows))  # worst case: key is unique


def _range(stats: dict, col: str):
    """(lo, hi) of the column on its numeric axis — numerics directly,
    date/timestamp via the same `_axis_value` mapping the histograms
    use, so temporal join keys get the containment refinement too."""
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
    # `axis_range` (X60, round 12): a tighter AXIS-value support
    # recorded by the range-conjunction stats twin — a filter on a
    # grid-partnered column clamps this column to the cells with
    # surviving joint mass (event-time filters shrinking a correlated
    # join key is the canonical case). Intersected with min/max and
    # ignored if inconsistent, so it can only TIGHTEN the containment
    # refinement, never widen or invalidate it.
    ar = c.get("axis_range")
    if ar:
        try:
            alo, ahi = float(ar[0]), float(ar[1])
        except (TypeError, ValueError):
            return lo, hi
        if max(lo, alo) <= min(hi, ahi):
            lo, hi = max(lo, alo), min(hi, ahi)
    return lo, hi


def _hist_segments(
    stats: dict, col: str
) -> list[tuple[float, float, float, float]] | None:
    """The column's histogram as piecewise-uniform segments
    ``(lo, hi, rows, dv)`` — rows in the segment and the distinct
    values it is assumed to hold (1 for a zero-width hot-value
    bucket). Works for both histogram shapes; None when the column
    has no histogram."""
    cstat = stats.get("columns", {}).get(col)
    hist = (cstat or {}).get("histogram")
    if not hist:
        return None
    n = float(max(0, int(stats.get("row_count") or 0)))
    ndv = float(cstat.get("ndv") or n or 1.0)
    segs: list[tuple[float, float, float, float]] = []
    if "bounds" in hist:  # equi-depth
        bounds, rpb = hist["bounds"], float(hist["rows_per_bucket"])
        total_w = max(bounds[-1] - bounds[0], 1e-12)
        for i in range(len(bounds) - 1):
            blo, bhi = bounds[i], bounds[i + 1]
            w = bhi - blo
            dv = 1.0 if w <= 0 else max(1.0, ndv * w / total_w)
            segs.append((blo, bhi, rpb, dv))
    else:  # equi-width
        counts = hist["counts"]
        lo, hi = hist["lo"], hist["hi"]
        width = (hi - lo) / len(counts)
        if width <= 0:
            return [(lo, hi, float(sum(counts)), 1.0)]
        for i, cnt in enumerate(counts):
            if cnt:
                segs.append(
                    (lo + i * width, lo + (i + 1) * width,
                     float(cnt), max(1.0, ndv / len(counts)))
                )
    return segs or None


def _hist_join_rows(
    lsegs: list[tuple[float, float, float, float]],
    rsegs: list[tuple[float, float, float, float]],
) -> float:
    """Bucket-aligned equi-join estimate: overlap each left segment
    with each right segment (both piecewise-uniform), contributing
    ``rows_l·rows_r / max(dv_l, dv_r)`` on the shared interval —
    the textbook histogram join, which sees the hot keys uniform-NDV
    Selinger averages away. Segment counts are tiny (≤ bucket
    count), so the quadratic pairing is driver-side metadata work."""
    # a point p belongs to [lo, hi) — or to a CLOSED [lo, hi] when no
    # later segment starts at hi (the column max sits on the last
    # bucket's upper bound)
    llos = {s[0] for s in lsegs}
    rlos = {s[0] for s in rsegs}

    def _inside(p, lo, hi, los):
        return lo <= p < hi or (p == hi and hi not in los)

    est = 0.0
    for llo, lhi, lrows, ldv in lsegs:
        for rlo, rhi, rrows, rdv in rsegs:
            lw, rw = lhi - llo, rhi - rlo
            if lw <= 0 and rw <= 0:
                # two point masses: join only when colocated
                if llo == rlo:
                    est += lrows * rrows  # dv 1 each: every pair matches
                continue
            if lw <= 0:  # left hot value inside a right bucket:
                # every left row matches the right's rows-per-value
                if _inside(llo, rlo, rhi, rlos):
                    est += lrows * rrows / max(rdv, 1.0)
                continue
            if rw <= 0:
                if _inside(rlo, llo, lhi, llos):
                    est += rrows * lrows / max(ldv, 1.0)
                continue
            lo, hi = max(llo, rlo), min(lhi, rhi)
            if hi <= lo:
                continue
            lfrac = (hi - lo) / lw
            rfrac = (hi - lo) / rw
            est += (lrows * lfrac) * (rrows * rfrac) / max(
                ldv * lfrac, rdv * rfrac, 1.0
            )
    return est


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
    """NDV of a key TUPLE: the X37 collected group NDV when present
    (`stats["column_groups"]`, exact information about the
    combination), else the max over the component columns' NDVs — the
    provable lower bound (the true group NDV is ≥ every component's),
    which is exactly where per-column Selinger OVERestimates a
    composite join's selectivity."""
    from .column_groups import group_key

    if len(cols) == 1:
        return _ndv(stats, cols[0], n)
    g = (stats.get("column_groups") or {}).get(group_key(list(cols)))
    if g and g.get("ndv"):
        return max(1.0, min(float(g["ndv"]), float(n)))
    return max(_ndv(stats, c, n) for c in cols)


def estimate_join_rows(
    left_stats: dict, lcol, right_stats: dict, rcol
) -> float:
    """Equi-join cardinality. When BOTH keys carry histograms the
    estimate is bucket-aligned (`_hist_join_rows` — piecewise-uniform
    segments joined interval-by-interval, so a skewed key's hot
    values contribute their true quadratic mass). Otherwise the
    Selinger formula |L|·|R| / max(ndv_l, ndv_r), scaled down by
    key-range containment when min/max show the domains barely
    overlap (a disjoint-range join estimates ~0 instead of
    |L|·|R|/ndv).

    ``lcol``/``rcol`` may be TUPLES (composite key, round 11): the
    NDV is then the X37 group NDV when collected, else the max
    component NDV (`_group_ndv`); a provably disjoint range on ANY
    component proves zero. Histograms stay single-column."""
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
    lsegs = _hist_segments(left_stats, lcol)
    rsegs = _hist_segments(right_stats, rcol)
    if lsegs and rsegs:
        return _hist_join_rows(lsegs, rsegs)
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
        selectivity — a full-table histogram would re-inflate it, so
        it is dropped). Composite (tuple) keys build the view over every
        component plus the owner's X37 group entry when collected, all
        NDVs capped at cur_rows."""

        def capped(cs):
            cs = {k: v for k, v in cs.items() if k != "histogram"}
            if cs.get("ndv"):
                cs = {**cs, "ndv": max(1, min(int(cs["ndv"]), int(cur_rows) or 1))}
            return cs

        colmap = {}
        for c in _cols(cur_col):
            cs = stats[owner]["columns"].get(c)
            if cs:
                colmap[c] = capped(cs)
        cur_view = {"row_count": cur_rows, "columns": colmap}
        if len(_cols(cur_col)) > 1:
            from .column_groups import group_key

            g = (stats[owner].get("column_groups") or {}).get(
                group_key(list(_cols(cur_col)))
            )
            if g and g.get("ndv"):
                cur_view["column_groups"] = {
                    group_key(list(_cols(cur_col))): {
                        **g,
                        "ndv": max(
                            1, min(int(g["ndv"]), int(cur_rows) or 1)
                        ),
                    }
                }
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
                            cs = {
                                k: v
                                for k, v in cs.items()
                                if k != "histogram"
                            }
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

