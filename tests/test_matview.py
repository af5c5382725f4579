"""X62 pins (round 13): the aggregate navigator.

Routing decisions are evidence-driven and the two paths are
bit-identical: a fresh store serves the aggregate from metadata-scale
partials (the plan scans the STORE, never the raw table), a stale or
too-fine store falls back to the raw computation, and both produce the
same rows in the same schema.
"""

from __future__ import annotations

import pytest

from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import refresh_rollup
from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import formatted_plan
from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
    _compute_from_raw,
    route_event_rollup,
)
from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def fresh_store(spark, sf_dir, tmp_path_factory):
    """An hour-grain store holding exactly the fixture events feed."""
    store = str(tmp_path_factory.mktemp("mv") / "store")
    refresh_rollup(
        load_table(spark, sf_dir, "events"), store, batch_id=0,
        resolution="hour",
    )
    return store


def test_fresh_store_serves_and_matches_raw(spark, sf_dir, fresh_store):
    df, route = route_event_rollup(
        spark, sf_dir, fresh_store, resolution="day"
    )
    assert route == "store"
    plan = formatted_plan(df)
    assert "events.parquet" not in plan, (
        "served plan must scan the store's partials, not the raw table"
    )
    assert _rows(df) == _rows(_compute_from_raw(spark, sf_dir, "day")), (
        "store-served and raw-computed answers must be bit-identical"
    )


def test_filters_apply_on_the_served_path(spark, sf_dir, fresh_store):
    import datetime as dt

    lo = dt.datetime(2024, 1, 10)  # mid-range: the filter really prunes
    df, route = route_event_rollup(
        spark,
        sf_dir,
        fresh_store,
        resolution="day",
        time_range=(lo, None),
        event_types=["view", "click"],
    )
    assert route == "store"
    raw = _compute_from_raw(spark, sf_dir, "day").filter(
        "window_start >= timestamp'2024-01-10' "
        "AND event_type IN ('view','click')"
    )
    assert 0 < df.count() < _compute_from_raw(spark, sf_dir, "day").count()
    assert _rows(df) == _rows(raw)


def test_stale_store_falls_back_to_raw(spark, sf_dir, tmp_path):
    """A store missing part of the feed (delivered from a filtered
    batch) fails the Σcnt-vs-stats freshness gate and the router
    computes from raw — answers equal the direct computation."""
    store = str(tmp_path / "store")
    ev = load_table(spark, sf_dir, "events")
    refresh_rollup(
        ev.filter("event_type = 'view'"), store, batch_id=0,
        resolution="hour",
    )
    df, route = route_event_rollup(
        spark, sf_dir, store, resolution="day"
    )
    assert route == "raw"
    assert _rows(df) == _rows(_compute_from_raw(spark, sf_dir, "day"))


def test_finer_than_stored_grain_falls_back(spark, sf_dir, tmp_path):
    """Day-grain partials cannot answer an hour-grain ask — the
    navigator routes to raw instead of serving a meaningless merge."""
    store = str(tmp_path / "store")
    refresh_rollup(
        load_table(spark, sf_dir, "events"), store, batch_id=0,
        resolution="day",
    )
    df, route = route_event_rollup(
        spark, sf_dir, store, resolution="hour"
    )
    assert route == "raw"
    assert _rows(df) == _rows(_compute_from_raw(spark, sf_dir, "hour"))


def test_missing_store_falls_back(spark, sf_dir, tmp_path):
    df, route = route_event_rollup(
        spark, sf_dir, str(tmp_path / "nope"), resolution="day"
    )
    assert route == "raw"
    assert len(df.take(1)) == 1


def test_unexpected_store_error_propagates(
    spark, sf_dir, fresh_store, monkeypatch
):
    """Only a too-fine grain or a missing/unreadable store routes raw:
    any other failure while probing the store is a bug, and it must
    surface instead of being served silently from the raw table."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.rollup as R
    from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
        route_event_quantiles,
    )

    def broken(*a, **k):
        raise RuntimeError("visibility probe failed")

    monkeypatch.setattr(R, "_visible_epochs", broken)
    with pytest.raises(RuntimeError, match="visibility probe"):
        route_event_rollup(
            spark, sf_dir, fresh_store, resolution="day", snapshot=True
        )
    with pytest.raises(RuntimeError, match="visibility probe"):
        route_event_quantiles(
            spark, sf_dir, fresh_store, [0.5], resolution="day",
            snapshot=True,
        )


def test_snapshot_visibility_set_computed_once(
    spark, sf_dir, fresh_store, monkeypatch
):
    """Round-13 advisor finding: the freshness probe and the serving
    read used to each compute the visible-epoch set independently — an
    epoch committed between the two would be SERVED without being
    COUNTED by the Σcnt == raw_rows audit. The router now computes the
    set once and hands the same object to both `_snapshot_parts`
    calls."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.rollup as R

    vis_calls: list[int] = []
    keeps: list[object] = []
    orig_vis = R._visible_epochs
    orig_parts = R._snapshot_parts

    def vis_spy(*a, **k):
        vis_calls.append(1)
        return orig_vis(*a, **k)

    def parts_spy(spark_, path, snapshot, keep=None):
        keeps.append(keep)
        return orig_parts(spark_, path, snapshot, keep=keep)

    monkeypatch.setattr(R, "_visible_epochs", vis_spy)
    monkeypatch.setattr(R, "_snapshot_parts", parts_spy)
    df, route = route_event_rollup(
        spark, sf_dir, fresh_store, resolution="day", snapshot=True
    )
    assert route == "store"
    assert len(vis_calls) == 1, "visibility set must be computed ONCE"
    assert len(keeps) == 2, "probe + serve must both take the set"
    assert keeps[0] is not None and keeps[0] is keeps[1], (
        "probe and serve must share the SAME visibility set object"
    )
    assert _rows(df) == _rows(_compute_from_raw(spark, sf_dir, "day"))


def test_rollup_incremental_served_from_store(spark, sf_dir, monkeypatch):
    """Round 14 (X62 dogfood): q_rollup_incremental's read path routes
    through the navigator, the freshly-maintained store passes the
    Σcnt freshness gate, and the returned frame's plan scans the STORE
    partials — never the raw events table."""
    import custom_python_etl_data_connector_shivaask_username_spark.plans.matview as M
    from custom_python_etl_data_connector_shivaask_username_spark import registry

    registry.load_all()
    routes: list[str] = []
    orig = M.route_event_rollup

    def spy(*a, **k):
        df, route = orig(*a, **k)
        routes.append(route)
        return df, route

    monkeypatch.setattr(M, "route_event_rollup", spy)
    out = registry.QUERIES["q_rollup_incremental"](spark, sf_dir)
    assert routes == ["store"], routes
    plan = formatted_plan(out)
    assert "events.parquet" not in plan, (
        "the served read must scan the maintained store, not raw events"
    )
    # and the serve is value-identical to the direct raw computation
    raw = _compute_from_raw(spark, sf_dir, "hour")
    assert _rows(out) == _rows(raw)


def test_refresh_sees_live_fed_events(spark, sf_dir, tmp_path):
    """Round-13 advisor scenario: a live-fed events dir grows
    mid-session. The session memo (load_table's file listing, which
    the raw row count also reads) freezes at first touch, so without
    `refresh=True` the raw path silently misses appended files; with
    it, the router re-lists and the counts double."""
    from pyspark.sql import functions as F

    live = str(tmp_path / "live")
    nostore = str(tmp_path / "nostore")
    ev = load_table(spark, sf_dir, "events")
    ev.write.parquet(f"{live}/events.parquet")

    def total(df):
        return df.agg(F.sum("event_count").alias("n")).collect()[0]["n"]

    df1, route1 = route_event_rollup(spark, live, nostore, resolution="day")
    assert route1 == "raw"
    n1 = total(df1)
    # the feed grows mid-session
    ev.write.mode("append").parquet(f"{live}/events.parquet")
    df_stale, _ = route_event_rollup(spark, live, nostore, resolution="day")
    assert total(df_stale) == n1, (
        "premise: without refresh the memoized listing misses the "
        "appended files (the advisor's silent-staleness scenario)"
    )
    df2, route2 = route_event_rollup(
        spark, live, nostore, resolution="day", refresh=True
    )
    assert route2 == "raw"
    assert total(df2) == 2 * n1, "refresh=True must see the appended feed"


def test_quantile_route_store_and_raw_bit_identical(
    spark, sf_dir, fresh_store, tmp_path
):
    """Round 14 (X62 quantile route): a fresh store serves percentiles
    from the X51 partials; a stale store computes the SAME
    quantized-histogram estimate from raw events — rows identical, so
    routing never changes answers."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
        route_event_quantiles,
    )

    qs = [0.5, 0.95]
    served, route = route_event_quantiles(
        spark, sf_dir, fresh_store, qs, resolution="day"
    )
    assert route == "store"
    plan = formatted_plan(served)
    assert "events.parquet" not in plan

    # stale store (partial feed): raw fallback
    stale = str(tmp_path / "stale")
    refresh_rollup(
        load_table(spark, sf_dir, "events").filter("event_type = 'view'"),
        stale, batch_id=0, resolution="hour",
    )
    raw, route2 = route_event_quantiles(
        spark, sf_dir, stale, qs, resolution="day"
    )
    assert route2 == "raw"
    assert _rows(served) == _rows(raw), (
        "store-served and raw-computed quantiles must be bit-identical"
    )


def test_quantile_route_refuses_finer_grain_via_raw(spark, sf_dir, tmp_path):
    """A day-grain store cannot answer an hour ask: the quantile route
    falls back to raw, and the result equals the raw rendering."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        _quantiles_from_parts,
        rollup_partials,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
        route_event_quantiles,
    )

    store = str(tmp_path / "day_store")
    refresh_rollup(
        load_table(spark, sf_dir, "events"), store, batch_id=0,
        resolution="day",
    )
    df, route = route_event_quantiles(
        spark, sf_dir, store, [0.5], resolution="hour"
    )
    assert route == "raw"
    direct = _quantiles_from_parts(
        rollup_partials(load_table(spark, sf_dir, "events"), "hour"),
        [0.5],
        "hour",
    )
    assert _rows(df) == _rows(direct)


# --- round 15 (VERDICT r14 ask #7): the EXACT-percentile route ---------------


def test_exact_percentile_route_bit_identical_and_pass1_scan_free(
    spark, sf_dir, fresh_store, monkeypatch
):
    """A fresh store serves exact_percentiles_twopass' pass-1 histogram
    from the X51 partials: the raw twopass operator is NEVER invoked
    (spy), pass 2 collects only the straddling buckets' rows, and the
    answer is bit-identical to the raw twopass route."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.aggregates as A
    from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
        route_event_exact_percentiles,
    )

    qs = (0.5, 0.95, 0.99)
    raw = A.exact_percentiles_twopass(
        load_table(spark, sf_dir, "events"), "event_type", "value", qs,
        bucket_width=1.0, bounds="footer",
    ).collect()

    def boom(*a, **k):
        raise AssertionError("store route must not run the raw twopass")

    monkeypatch.setattr(A, "exact_percentiles_twopass", boom)
    served, route = route_event_exact_percentiles(
        spark, sf_dir, fresh_store, qs
    )
    assert route == "store"
    got = served.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, raw)), (
        "store-assisted and raw twopass percentiles must be "
        "bit-identical"
    )
    st = A.LAST_QHIST_STATS
    n_events = load_table(spark, sf_dir, "events").count()
    assert st["hist_rows"] > 0
    assert 0 < st["straddle_rows"] < n_events / 10, (
        f"pass 2 must touch only straddle rows, got {st}"
    )


def test_exact_percentile_route_stale_store_falls_back(
    spark, sf_dir, tmp_path
):
    """A store missing part of the feed fails the freshness gate; the
    route is raw and equals the direct twopass."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.aggregates import (
        exact_percentiles_twopass,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.matview import (
        route_event_exact_percentiles,
    )

    store = str(tmp_path / "stale")
    refresh_rollup(
        load_table(spark, sf_dir, "events").filter("event_type = 'view'"),
        store, batch_id=0, resolution="hour",
    )
    served, route = route_event_exact_percentiles(
        spark, sf_dir, store, (0.5, 0.99)
    )
    assert route == "raw"
    direct = exact_percentiles_twopass(
        load_table(spark, sf_dir, "events"), "event_type", "value",
        (0.5, 0.99), bucket_width=1.0, bounds="footer",
    )
    assert _rows(served) == _rows(direct)


def test_exact_percentile_route_catches_only_stale_store(
    spark, sf_dir, fresh_store, tmp_path, monkeypatch
):
    """A store whose counts slipped past the freshness gate raises
    StaleStoreError in the rank resolution and routes raw (the raw
    answer is pinned above); a genuine AssertionError under the store
    serve is a bug and propagates."""
    import custom_python_etl_data_connector_shivaask_username_spark.operators.aggregates as A
    import custom_python_etl_data_connector_shivaask_username_spark.plans.matview as M

    qs = (0.5, 0.99)
    # every event counted twice: Σcnt is 2n, so the gate must be
    # forced open to reach the rank resolution
    doubled = str(tmp_path / "doubled")
    ev = load_table(spark, sf_dir, "events")
    refresh_rollup(ev.union(ev), doubled, batch_id=0, resolution="hour")
    monkeypatch.setattr(M, "_store_fresh", lambda *a, **k: True)
    raised: list[type] = []
    orig = A.exact_percentiles_qhist

    def spy(*a, **k):
        try:
            return orig(*a, **k)
        except Exception as e:
            raised.append(type(e))
            raise

    monkeypatch.setattr(A, "exact_percentiles_qhist", spy)
    _, route = M.route_event_exact_percentiles(spark, sf_dir, doubled, qs)
    assert (route, raised) == ("raw", [A.StaleStoreError])

    def broken(*a, **k):
        raise AssertionError("invariant broken under the store serve")

    monkeypatch.setattr(A, "exact_percentiles_qhist", broken)
    with pytest.raises(AssertionError, match="invariant broken"):
        M.route_event_exact_percentiles(spark, sf_dir, fresh_store, qs)


def test_q_event_type_stats_routes_percentiles_through_store(
    spark, sf_dir, tmp_path, monkeypatch
):
    """End-to-end registry dogfood: an events dir carrying the
    conventional `_rollup_store` routes the percentile pass through the
    navigator (route spied 'store'), and the full query's rows are
    byte-equal to the raw-path rows on the same dir."""
    import custom_python_etl_data_connector_shivaask_username_spark.plans.matview as M
    from custom_python_etl_data_connector_shivaask_username_spark import registry, tables

    registry.load_all()
    live = str(tmp_path / "live")
    ev = load_table(spark, sf_dir, "events")
    ev.write.parquet(f"{live}/events.parquet")
    refresh_rollup(
        tables.load_table(spark, live, "events"),
        f"{live}/_rollup_store", batch_id=0, resolution="hour",
    )

    routes: list[str] = []
    orig = M.route_event_exact_percentiles

    def spy(*a, **k):
        df, route = orig(*a, **k)
        routes.append(route)
        return df, route

    monkeypatch.setattr(M, "route_event_exact_percentiles", spy)
    tables.invalidate_table_cache(live)  # fresh store-location probe
    stored = registry.QUERIES["q_event_type_stats"](spark, live).collect()
    assert routes == ["store"], routes

    # raw twin on the SAME dir: navigator disabled
    monkeypatch.setattr(M, "event_store_path", lambda *a, **k: None)
    raw = registry.QUERIES["q_event_type_stats"](spark, live).collect()
    assert sorted(map(str, stored)) == sorted(map(str, raw)), (
        "store-routed and raw q_event_type_stats must be byte-equal"
    )
    M.register_event_store(live, None)
