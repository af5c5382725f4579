"""X62 (round 13): the aggregate navigator — materialized-view routing
onto the rollup store.

The engine has maintained mergeable time-bucket partials since round 8
(`operators/rollup.py` + the X30 streaming sink + X34 snapshot reads +
X51 quantile partials), but USING them was the caller's job: a query
that wanted daily event counts had to know the store existed and call
`read_rollup` itself, while the same aggregate written against the raw
table paid a full scan. This module is the missing navigator: give it
the aggregate's shape (grain, optional time range / type filter) and it
decides — serve from the store's metadata-scale partials when the store
CAN answer and IS fresh, otherwise compute from the raw table — and
both paths return the identical schema, so callers never branch.

Can-answer: the requested grain must be coarser-or-equal to the stored
grain (`stored_resolution`; partials only merge coarser), and the
requested measures must derive from the stored partials (count / sum /
avg / min / max — the `_finalize` surface).

Is-fresh: the store's own visible row mass (Σ cnt over its partials —
metadata-scale) must equal the raw table's row count (a parquet
``count()``, answered from row-group footers). The store is maintained
FROM this table's feed (refresh_rollup / the X30 sink), so a count
mismatch means undelivered or torn data — route to raw. A production
deployment would carry the
refresh watermark in the store (it does: `_folded_watermark` +
committed epochs gate what Σ cnt even sees under ``snapshot=True``).

Scale shape: the served path reads cells × days of partial rows
(KB–MB at 100 TB of raw events) with the day partition pruned by any
time range; the freshness probe is one aggregate over those same
partials plus a footer-only row count. The raw fallback is exactly the
aggregation the caller would have written — nothing is ever worse than
not having the navigator.
"""

from __future__ import annotations

import datetime as _dt

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: what a missing or unreadable store raises: Spark's path/schema
#: analysis errors, or pyarrow's listing of an absent directory
_STORE_UNREADABLE = (AnalysisException, FileNotFoundError)


def route_event_rollup(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    resolution: str = "day",
    time_range: tuple | None = None,
    event_types: list[str] | None = None,
    snapshot: bool = False,
    refresh: bool = False,
) -> tuple[DataFrame, str]:
    """The navigator: ``(frame, route)`` where ``route`` is ``"store"``
    (served from rollup partials) or ``"raw"`` (computed from the
    events table). Identical schema either way: (window_start,
    event_type, event_count, total_value, avg_value, min_value,
    max_value) at the requested grain, optionally bounded to
    ``time_range = (lo, hi)`` on the bucket start and filtered to
    ``event_types``.

    Staleness caveat (round-13 advisor): the freshness probe and the
    raw fallback both read the events table through the session memos
    (`load_table`'s parquet file listing), which freezes at first
    touch. On a LIVE-FED events dir
    that grows mid-session — the exact scenario a maintained store
    targets — pass ``refresh=True``, or call
    ``tables.invalidate_table_cache(sf_dir)`` after each feed:
    otherwise the route can report "fresh"/"raw" off old counts and
    the raw path silently misses files appended after the first load.
    Fixture dirs are immutable, so registry traffic never needs it."""
    if refresh:
        from ..tables import invalidate_table_cache

        invalidate_table_cache(sf_dir)
    route = "store"
    keep = None
    try:
        from ..operators.rollup import (
            _check_serving_resolution,
            _visible_epochs,
        )

        _check_serving_resolution(spark, store_path, resolution)
        if snapshot:
            # compute the visibility set ONCE and hand the SAME set to
            # the freshness aggregate and the serving read (round-13
            # advisor: independent computations let an epoch committed
            # between probe and serve be counted by neither — served
            # rows the Σcnt == raw_rows audit never saw)
            keep = _visible_epochs(spark, store_path)
    except (ValueError, *_STORE_UNREADABLE):
        route = "raw"  # finer than stored grain (or unreadable store)
    if route == "store" and not _store_fresh(
        spark, sf_dir, store_path, snapshot, keep
    ):
        route = "raw"
    if route == "store":
        df = _serve_from_store(
            spark, store_path, resolution, snapshot, keep
        )
    else:
        df = _compute_from_raw(spark, sf_dir, resolution)
    if event_types is not None:
        df = df.filter(F.col("event_type").isin(list(event_types)))
    if time_range is not None:
        lo, hi = time_range
        # literal cast to the bucket column's own type (ntz vs tz):
        # a mismatched literal would cast the COLUMN and kill the
        # day-partition pruning the served path exists for
        wtype = df.schema["window_start"].dataType
        if lo is not None:
            df = df.filter(F.col("window_start") >= F.lit(lo).cast(wtype))
        if hi is not None:
            df = df.filter(F.col("window_start") <= F.lit(hi).cast(wtype))
    return df, route


def route_event_quantiles(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    qs: list[float],
    resolution: str = "hour",
    snapshot: bool = False,
    refresh: bool = False,
) -> tuple[DataFrame, str]:
    """The navigator's QUANTILE route (round 14 — the r13 close's
    candidate (c)): percentile asks served from the store's X51
    quantile partials when the store CAN answer (grain coarser-or-equal
    AND full qhist coverage) and IS fresh (the same Σcnt == raw-count
    gate as :func:`route_event_rollup`), else computed from the raw
    events — by building the SAME quantized-histogram partials in
    memory and rendering them through the SAME code path, so the two
    routes are BIT-IDENTICAL, not merely close (the matview doctrine:
    routing never changes answers). Exact raw percentiles are a
    different ask — `q_event_type_stats` serves those.

    Returns ``(frame, route)``; schema ``(window_start, event_type, q,
    value)`` at the requested grain either way. Same staleness caveat
    as :func:`route_event_rollup` for live-fed dirs (``refresh=True``).
    """
    if refresh:
        from ..tables import invalidate_table_cache

        invalidate_table_cache(sf_dir)
    route = "store"
    keep = None
    try:
        from ..operators.rollup import (
            _check_serving_resolution,
            _qhist_coverage,
            _visible_epochs,
        )

        _check_serving_resolution(spark, store_path, resolution)
        if snapshot:
            keep = _visible_epochs(spark, store_path)
        if (
            _qhist_coverage(spark, store_path, snapshot=snapshot, keep=keep)
            != "all"
        ):
            route = "raw"  # legacy/mixed qhist: serving would refuse
    except (ValueError, *_STORE_UNREADABLE):
        route = "raw"  # finer than stored grain (or unreadable store)
    if route == "store" and not _store_fresh(
        spark, sf_dir, store_path, snapshot, keep
    ):
        route = "raw"
    if route == "store":
        from ..operators.rollup import rollup_quantiles

        df = rollup_quantiles(
            spark,
            store_path,
            qs,
            resolution=resolution,
            snapshot=snapshot,
            keep=keep,
        )
    else:
        from ..operators.rollup import (
            _quantiles_from_parts,
            rollup_partials,
        )
        from ..tables import load_table

        events = load_table(spark, sf_dir, "events")
        df = _quantiles_from_parts(
            rollup_partials(events, resolution=resolution),
            qs,
            resolution,
        )
    return df, route


#: per-sf_dir registered (or probed) event rollup store, consulted by
#: q_event_type_stats' percentile path. None = probed and absent.
_EVENT_STORES: dict[str, str | None] = {}


def register_event_store(sf_dir: str, store_path: str | None) -> None:
    """Declare (or with None, clear) the rollup store maintained for
    ``sf_dir``'s events feed — the deployment hook that lets
    registry queries route through the navigator. Fixture dirs are
    read-only and never carry one, so driver traffic stays on the raw
    path untouched."""
    if store_path is None:
        _EVENT_STORES.pop(sf_dir, None)
    else:
        _EVENT_STORES[sf_dir] = store_path


def event_store_path(spark: SparkSession, sf_dir: str) -> str | None:
    """The store serving ``sf_dir``, if any: an explicit
    :func:`register_event_store` registration, else a one-time probe
    for the conventional ``{sf_dir}/_rollup_store`` location
    (memoized — one metadata call per dir per session; cleared by
    ``tables.invalidate_table_cache`` siblings' session resets)."""
    if sf_dir in _EVENT_STORES:
        return _EVENT_STORES[sf_dir]
    path = f"{sf_dir.rstrip('/')}/_rollup_store"
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        found = p.getFileSystem(hconf).exists(p)
    except Py4JJavaError:
        found = False  # no filesystem for the dir's scheme
    _EVENT_STORES[sf_dir] = path if found else None
    return _EVENT_STORES[sf_dir]


def route_event_exact_percentiles(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    qs: tuple[float, ...],
    snapshot: bool = False,
) -> tuple[DataFrame, str]:
    """The navigator's EXACT-percentile route (round 15, VERDICT r14
    ask #7): serve ``exact_percentiles_twopass``' pass-1 histogram —
    the only full-table scan in the percentile path — from the store's
    X51 quantile partials, keeping pass 2 (the straddling-bucket
    distinct-value probe, parquet-pruned to the straddle row groups)
    on the raw table so the answer stays EXACT and bit-identical to
    the raw twopass route. This is a different contract from
    :func:`route_event_quantiles`, which renders the store's
    QUANTIZED percentiles (≈2.2% relative error) on both routes; here
    both routes are exact, and the store merely deletes a full scan.

    Can-answer: qhist coverage "all" at ANY stored grain (the per-type
    fold collapses time). Is-fresh: the same Σcnt == raw-count gate —
    per-bucket counts must describe exactly the rows the raw table
    holds, or ranks would shift; a disagreement that slips past the
    gate raises in the rank resolution and falls back here. Returns
    ``(long frame (key, q, p), route)``."""
    from ..operators.aggregates import (
        StaleStoreError,
        exact_percentiles_qhist,
        exact_percentiles_twopass,
    )
    from ..tables import load_table

    ev = load_table(spark, sf_dir, "events")
    route = "store"
    keep = None
    try:
        from ..operators.rollup import _qhist_coverage, _visible_epochs

        if snapshot:
            keep = _visible_epochs(spark, store_path)
        if (
            _qhist_coverage(spark, store_path, snapshot=snapshot, keep=keep)
            != "all"
        ):
            route = "raw"
    except _STORE_UNREADABLE:
        route = "raw"
    if route == "store" and not _store_fresh(
        spark, sf_dir, store_path, snapshot, keep
    ):
        route = "raw"
    if route == "store":
        try:
            from ..operators.rollup import _snapshot_parts

            hist = [
                (r["event_type"], r["qk"], r["cnt"])
                for r in (
                    _snapshot_parts(spark, store_path, snapshot, keep=keep)
                    .select(
                        "event_type", F.explode("qhist").alias("qk", "c")
                    )
                    .groupBy("event_type", "qk")
                    .agg(F.sum("c").alias("cnt"))
                    .collect()
                )
            ]
            return (
                exact_percentiles_qhist(ev, "event_type", "value", qs, hist),
                "store",
            )
        except (StaleStoreError, *_STORE_UNREADABLE):
            # torn store past the gate (rank outside the histogram
            # mass) or vanished files: raw always works
            route = "raw"
    return (
        exact_percentiles_twopass(
            ev, "event_type", "value", qs, bucket_width=1.0, bounds="footer"
        ),
        "raw",
    )


def _store_fresh(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    snapshot: bool,
    keep: set[int] | None = None,
) -> bool:
    """Σ cnt over the store's visible partials == the raw table's row
    count. Metadata-scale on the store side; on the raw side a
    ``count()`` over the memoized listing, which parquet answers from
    row-group footers — no data pages. ``keep`` is the caller's
    pre-computed visibility set, shared with the serving read."""
    try:
        from ..operators.rollup import _snapshot_parts
        from ..tables import load_table

        parts = _snapshot_parts(spark, store_path, snapshot, keep=keep)
        [(store_rows,)] = parts.agg(
            F.sum("cnt").alias("n")
        ).collect()
        raw_rows = load_table(spark, sf_dir, "events").count()
        return store_rows is not None and int(store_rows) == raw_rows
    except _STORE_UNREADABLE:
        return False  # unreadable store: the raw path always works


def _serve_from_store(
    spark: SparkSession,
    store_path: str,
    resolution: str,
    snapshot: bool,
    keep: set[int] | None = None,
) -> DataFrame:
    """Merge the visible partials to the requested grain — the X34
    snapshot-aware twin of `cascade_rollup` (which reads every file
    unconditionally). ``keep`` is the same visibility set the
    freshness probe audited — never recomputed here."""
    from ..operators.rollup import (
        _finalize,
        _merge_partials,
        _snapshot_parts,
    )

    parts = _snapshot_parts(spark, store_path, snapshot, keep=keep)
    return _finalize(
        _merge_partials(
            parts, F.date_trunc(resolution, F.col("bucket_start"))
        )
    )


def _compute_from_raw(
    spark: SparkSession, sf_dir: str, resolution: str
) -> DataFrame:
    """The aggregate the caller would have written: one scan + one
    shuffle over the raw events, in EXACTLY the partials' arithmetic
    (decimal sums, same finalize casts) so store-served and
    raw-computed answers are bit-identical, not merely close."""
    from ..operators.rollup import (
        _finalize,
        _merge_partials,
        rollup_partials,
    )
    from ..tables import load_table

    events = load_table(spark, sf_dir, "events")
    parts = rollup_partials(events, resolution=resolution)
    return _finalize(_merge_partials(parts, F.col("bucket_start")))
