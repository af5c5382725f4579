"""X31 pins: one-pass ANALYZE stats correctness,
Selinger join-cardinality estimates, and the greedy join-order planner
(result equivalence, dims-before-fact order, stats-driven broadcast
hints, no invented cartesians)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
)
from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
    collect_table_stats,
    estimate_join_rows,
    plan_join_tree,
)
from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table


def test_collect_stats_one_pass_correctness(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    stats = collect_table_stats(nation)
    assert stats["row_count"] == nation.count()
    assert stats["size_bytes"] and stats["size_bytes"] > 0
    key = stats["columns"]["n_nationkey"]
    assert key["min"] == 0 and key["max"] == stats["row_count"] - 1
    assert key["null_count"] == 0
    # HLL++ ndv within the requested 5% rsd (generous 3-sigma band)
    assert abs(key["ndv"] - stats["row_count"]) <= max(
        2, 0.15 * stats["row_count"]
    )
    # non-atomic columns are skipped, atomic ones all present
    assert set(stats["columns"]) == {
        f.name
        for f in nation.schema.fields
        if not f.dataType.simpleString().startswith(("array", "map", "struct"))
    }


def test_estimate_join_rows_fk_and_disjoint(spark, sf_dir):
    nation = collect_table_stats(load_table(spark, sf_dir, "nation"))
    cust = collect_table_stats(load_table(spark, sf_dir, "customer"))
    est = estimate_join_rows(nation, "n_nationkey", cust, "c_nationkey")
    actual = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .count()
    )
    # FK join onto a key: estimate within 25% of truth
    assert 0.75 * actual <= est <= 1.25 * actual
    # disjoint numeric key ranges estimate ~0 (containment refinement)
    shifted = {
        "row_count": cust["row_count"],
        "columns": {
            "c_nationkey": {
                **cust["columns"]["c_nationkey"],
                "min": 10_000,
                "max": 20_000,
            }
        },
    }
    assert estimate_join_rows(nation, "n_nationkey", shifted, "c_nationkey") == 0.0


def _star(spark, sf_dir):
    return {
        "region": load_table(spark, sf_dir, "region"),
        "nation": load_table(spark, sf_dir, "nation"),
        "customer": load_table(spark, sf_dir, "customer"),
        "orders": load_table(spark, sf_dir, "orders"),
    }


_EDGES = [
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("region", "r_regionkey", "nation", "n_regionkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
]


def test_plan_join_tree_star_schema(spark, sf_dir):
    tables = _star(spark, sf_dir)
    joined, order = plan_join_tree(tables, _EDGES)
    # broadcast-chain rung: the fact LEADS (it streams through the
    # fused BHJ chain, joined exactly once); dims hash-attach map-side
    assert order[0] == "orders" and set(order) == set(tables)
    naive = (
        tables["region"]
        .join(tables["nation"], F.col("r_regionkey") == F.col("n_regionkey"))
        .join(tables["customer"], F.col("n_nationkey") == F.col("c_nationkey"))
        .join(tables["orders"], F.col("c_custkey") == F.col("o_custkey"))
    )
    # rounded: double partial-sum order differs between join orders
    got = joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )
    want = naive.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # stats-driven hints: at this sf every dim clears the broadcast bar
    plan = formatted_plan(joined)
    assert plan.count("BroadcastHashJoin") >= 3


def test_plan_join_tree_broadcast_threshold_respected(spark, sf_dir):
    tables = _star(spark, sf_dir)
    # disabled threshold → the planner adds NO broadcast hints of its own
    joined, _ = plan_join_tree(tables, _EDGES, broadcast_threshold=-1)
    assert "ResolvedHint" not in joined._jdf.queryExecution().analyzed().toString()
    # tiny threshold → only tables that fit get the hint
    joined2, _ = plan_join_tree(tables, _EDGES, broadcast_threshold=1)
    assert (
        "ResolvedHint"
        not in joined2._jdf.queryExecution().analyzed().toString()
    )
    # generous threshold → the planner's OWN hints appear in the
    # analyzed plan (not just Spark's file-size auto-broadcast)
    joined3, _ = plan_join_tree(tables, _EDGES, broadcast_threshold=1 << 40)
    assert (
        "ResolvedHint"
        in joined3._jdf.queryExecution().analyzed().toString()
    )


def test_plan_join_tree_redundant_edge_becomes_filter(spark, sf_dir):
    tables = _star(spark, sf_dir)
    edges = _EDGES + [("nation", "n_nationkey", "customer", "c_nationkey")]
    joined, order = plan_join_tree(tables, edges)
    base, _ = plan_join_tree(tables, _EDGES)
    assert joined.count() == base.count()
    assert len(order) == len(tables)  # each table joined exactly once


def test_plan_join_tree_broadcast_chain_for_one_big_fact(spark):
    """Exactly one table over the build budget → the broadcast-chain
    rung: the fact LEADS and the dims hash-attach map-side (zero
    exchanges, no intermediate ever broadcast)."""
    dim_a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(20)], "a_key long, a_name string"
    )
    dim_b = spark.createDataFrame(
        [(i, i % 20) for i in range(40)], "b_key long, b_a long"
    )
    fact = spark.range(0, 10_000).select(
        F.col("id").alias("f_id"),
        (F.col("id") % 40).alias("f_b"),
        (F.col("id") * 2.0).alias("f_val"),
    )
    tables = {"dim_a": dim_a, "dim_b": dim_b, "fact": fact}
    edges = [
        ("dim_a", "a_key", "dim_b", "b_a"),
        ("dim_b", "b_key", "fact", "f_b"),
    ]
    # default-width estimates: dims ~64 B × ≤40 rows ≪ 50 kB, fact
    # 10k × 64 B = 640 kB > 50 kB → fact is the single big table
    joined, order = plan_join_tree(tables, edges, broadcast_threshold=50_000)
    assert order[0] == "fact"
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in analyzed
    plan = formatted_plan(joined)
    assert "SortMergeJoin" not in plan
    got = joined.agg(F.sum("f_val").alias("s")).first()["s"]
    want = (
        fact.join(dim_b, F.col("f_b") == F.col("b_key"))
        .join(dim_a, F.col("b_a") == F.col("a_key"))
        .agg(F.sum("f_val").alias("s"))
        .first()["s"]
    )
    assert got == want


def test_plan_join_tree_flips_build_side_under_two_big_tables(spark):
    """The greedy rung (≥2 tables over budget): when the accumulated
    dim bundle fits but the incoming fact doesn't, the build side
    flips — ``fact.join(broadcast(cur))`` — so the fact streams.
    Round 10: both facts touch dim_b, so the components merge into ONE
    (two big tables in it) and the bushy rung correctly declines —
    this graph pins the greedy's flip branch, which the bushy combine
    also reuses at the subtree level."""
    dim_a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(20)], "a_key long, a_name string"
    )
    dim_b = spark.createDataFrame(
        [(i, i % 20) for i in range(40)], "b_key long, b_a long"
    )
    fact = spark.range(0, 10_000).select(
        F.col("id").alias("f_id"),
        (F.col("id") % 40).alias("f_b"),
        (F.col("id") * 2.0).alias("f_val"),
    )
    fact2 = spark.range(0, 5_000).select(
        F.col("id").alias("g_id"),
        (F.col("id") % 10_000).alias("g_f"),
        (F.col("id") % 40).alias("g_d"),
    )
    tables = {
        "dim_a": dim_a, "dim_b": dim_b, "fact": fact, "fact2": fact2
    }
    edges = [
        ("dim_a", "a_key", "dim_b", "b_a"),
        ("dim_b", "b_key", "fact", "f_b"),
        ("dim_b", "b_key", "fact2", "g_d"),
        ("fact", "f_id", "fact2", "g_f"),
    ]
    # fact 640 kB and fact2 320 kB both exceed 50 kB, and the shared
    # dim_b forces the greedy rung; dims fold first (tiny est), fact2
    # arrives too big to broadcast while cur (≤40 rows) fits → flip;
    # fact then joins through the selective f_id edge
    joined, order = plan_join_tree(tables, edges, broadcast_threshold=50_000)
    assert set(order) == set(tables)
    assert order.index("fact") > order.index("dim_a")
    assert order.index("fact2") > order.index("dim_a")
    # the planner's DECISIONS live in the hints (tiny local data lets
    # Catalyst auto-broadcast the unhinted join anyway): dim_a lead,
    # dim_b attach, and the FLIP's broadcast(cur) = 3 hints; the
    # fact fold gets none (both sides over budget → left to
    # Catalyst/AQE, SMJ at real scale)
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 3
    got = joined.agg(F.sum("f_val").alias("s")).first()["s"]
    want = (
        fact.join(dim_b, F.col("f_b") == F.col("b_key"))
        .join(dim_a, F.col("b_a") == F.col("a_key"))
        .join(
            fact2,
            (F.col("g_f") == F.col("f_id"))
            & (F.col("g_d") == F.col("b_key")),
        )
        .agg(F.sum("f_val").alias("s"))
        .first()["s"]
    )
    assert got == want


def test_plan_join_tree_rejects_disconnected_graph(spark, sf_dir):
    tables = _star(spark, sf_dir)
    with pytest.raises(ValueError, match="disconnected"):
        plan_join_tree(
            tables,
            [
                ("region", "r_regionkey", "nation", "n_regionkey"),
                ("customer", "c_custkey", "orders", "o_custkey"),
            ],
        )
    with pytest.raises(ValueError, match="unknown tables"):
        plan_join_tree(
            tables, [("region", "r_regionkey", "ghost", "g_key")]
        )


# --- X36: filter-selectivity modeling -------------------------------------


def test_apply_filter_to_stats_metadata_only_planning(spark, sf_dir):
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        apply_filter_to_stats,
        plan_join_tree,
    )

    tables = {
        "customer": load_table(spark, sf_dir, "customer"),
        "nation": load_table(spark, sf_dir, "nation"),
        "region": load_table(spark, sf_dir, "region"),
    }
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    # equality predicate modeled metadata-only: region r_name = one of 5
    filtered = apply_filter_to_stats(stats["region"], "r_name", eq="EUROPE")
    assert filtered["row_count"] == 1
    assert filtered["columns"]["r_name"]["ndv"] == 1
    assert filtered["columns"]["r_name"]["min"] == "EUROPE"
    # the filtered-stats dict drives planning WITHOUT scanning the
    # filtered frame. Default budget → broadcast-chain rung: customer
    # (largest) leads and streams; the filtered region attaches.
    tables2 = {
        **tables,
        "region": tables["region"].filter(F.col("r_name") == "EUROPE"),
    }
    graph = [
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    planned, order = plan_join_tree(
        tables2, graph, stats={**stats, "region": filtered}
    )
    assert order[0] == "customer" and set(order) == set(tables2)
    # greedy rung (forced by an everything-is-big budget): the
    # filtered region's 1-row ESTIMATE — metadata only — leads
    _, order_greedy = plan_join_tree(
        tables2,
        graph,
        stats={**stats, "region": filtered},
        broadcast_threshold=1,
    )
    assert order_greedy[0] == "region" and order_greedy[-1] == "customer"
    want = (
        tables2["region"]
        .join(tables["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(tables["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .count()
    )
    assert planned.count() == want
    # range predicate scales rowcount (min/max containment), size,
    # sibling ndv/null caps
    cstats = stats["customer"]
    c = cstats["columns"]["c_acctbal"]
    mid = (float(c["min"]) + float(c["max"])) / 2
    f2 = apply_filter_to_stats(cstats, "c_acctbal", lo=mid)
    actual = tables["customer"].filter(F.col("c_acctbal") >= mid).count()
    assert abs(f2["row_count"] - actual) <= max(5, 0.3 * actual)
    assert f2["size_bytes"] < cstats["size_bytes"]
    assert f2["columns"]["c_custkey"]["ndv"] <= f2["row_count"]
    assert f2["columns"]["c_acctbal"]["null_count"] == 0


def test_apply_filter_to_stats_clamps_temporal_bounds(spark, sf_dir):
    """A date/timestamp range predicate must clamp the filtered
    column's min/max (on the `_axis_value` axis) just like a numeric
    one — stale wide temporal bounds forfeit exactly the containment
    refinement X36 exists to provide."""
    import datetime as dt

    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        apply_filter_to_stats,
    )

    orders = load_table(spark, sf_dir, "orders")
    st = collect_table_stats(orders, columns=["o_orderdate"])
    cs = st["columns"]["o_orderdate"]
    span = cs["max"] - cs["min"]
    lo_b = cs["min"] + span * 0.25
    hi_b = cs["min"] + span * 0.75
    f = apply_filter_to_stats(st, "o_orderdate", lo=lo_b, hi=hi_b)
    fcs = f["columns"]["o_orderdate"]
    assert fcs["min"] == lo_b, "temporal lower bound not clamped"
    assert fcs["max"] == hi_b, "temporal upper bound not clamped"
    # bounds WIDER than the data must not widen the stats
    f2 = apply_filter_to_stats(
        st,
        "o_orderdate",
        lo=cs["min"] - dt.timedelta(days=30),
        hi=cs["max"] + dt.timedelta(days=30),
    )
    assert f2["columns"]["o_orderdate"]["min"] == cs["min"]
    assert f2["columns"]["o_orderdate"]["max"] == cs["max"]


def test_plan_join_tree_rejects_self_join_shared_plan(spark, sf_dir):
    """The planner builds predicates from the original DataFrame
    attributes: one plan under two graph names resolves both sides of
    the condition to the SAME attribute (trivially-true join). Must
    be a loud error, including the alias() form (alias keeps ids)."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        plan_join_tree,
    )

    nation = load_table(spark, sf_dir, "nation")
    with pytest.raises(ValueError, match="self-join"):
        plan_join_tree(
            {"a": nation, "b": nation},
            [("a", "n_nationkey", "b", "n_nationkey")],
        )
    with pytest.raises(ValueError, match="self-join"):
        plan_join_tree(
            {"a": nation, "b": nation.alias("b")},
            [("a", "n_nationkey", "b", "n_nationkey")],
        )
    # a genuinely fresh read of the same table gets fresh attribute
    # ids — the legitimate self-join spelling. Round 13: load_table is
    # memoized per (session, sf_dir, table), so it now returns the
    # SAME plan object by design; the fresh read must come straight
    # from spark.read (exactly what the error message prescribes).
    fresh = spark.read.parquet(f"{sf_dir}/nation.parquet")
    if fresh._jdf.queryExecution().analyzed().sameResult(
        nation._jdf.queryExecution().analyzed()
    ):
        joined, _ = plan_join_tree(
            {"a": nation, "b": fresh},
            [("a", "n_nationkey", "b", "n_nationkey")],
        )
        assert joined.count() == nation.count()


# --- round-8 review pins: the five stats defects the code review found ---


def test_plan_join_tree_left_join_preserves_user_order(spark):
    """Non-inner joins must NOT be reordered or side-swapped: the edge
    order IS the semantics. A (10 rows) LEFT JOIN B (3-row key subset)
    keeps all 10 A rows even though B is smaller and the inner-mode
    greedy would have led with it."""
    a = spark.range(0, 10).select(F.col("id").alias("k"), F.lit("a").alias("va"))
    b = spark.range(0, 3).select(F.col("id").alias("k"), F.lit("b").alias("vb"))
    joined, order = plan_join_tree(
        {"A": a, "B": b}, [("A", "k", "B", "k")], how="left"
    )
    assert order == ["A", "B"]
    assert joined.count() == 10
    assert joined.filter(F.col("vb").isNull()).count() == 7
    # full outer likewise folds syntactically (and attaches no hint)
    fo, _ = plan_join_tree({"A": a, "B": b}, [("A", "k", "B", "k")], how="full")
    assert fo.count() == 10
    # a non-chained edge order is ambiguous for outer joins: refuse
    c = spark.range(0, 2).select(F.col("id").alias("k2"))
    with pytest.raises(ValueError, match="chain"):
        plan_join_tree(
            {"A": a, "B": b, "C": c},
            [("C", "k2", "B", "k"), ("A", "k", "B", "k")],
            how="left",
        )


def test_apply_filter_unknown_ndv_is_conservative(spark, sf_dir):
    """Equality on a column with no collected stats must NOT estimate
    ~1 row — that false confidence becomes a broadcast hint on an
    arbitrarily large table."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        apply_filter_to_stats,
    )

    orders = load_table(spark, sf_dir, "orders")
    stats = collect_table_stats(orders, columns=["o_orderkey"])
    assert "o_orderstatus" not in stats["columns"]
    f = apply_filter_to_stats(stats, "o_orderstatus", eq="F")
    assert f["row_count"] == stats["row_count"]  # no reduction claimed
    if stats.get("size_bytes"):
        assert f["size_bytes"] == stats["size_bytes"]


def test_plan_join_tree_same_named_columns_stay_per_table(spark):
    """Two tables both carrying an `id` column with wildly different
    NDV: the accumulated side's key stats are looked up from the
    OWNING table per edge, so the low-NDV `id` of the first-folded
    table cannot contaminate the estimate for the second's."""
    fact = spark.range(0, 5_000).select(
        F.col("id").alias("fk_a"), (F.col("id") % 10).alias("fk_b")
    )
    dim_a = spark.range(0, 5_000).select(
        F.col("id"), F.lit("a").alias("name_a")
    )  # id ndv 5000
    dim_b = spark.range(0, 10).select(
        F.col("id"), F.lit("b").alias("name_b")
    )  # id ndv 10 — same bare column name
    joined, order = plan_join_tree(
        {"fact": fact, "dim_a": dim_a, "dim_b": dim_b},
        [("fact", "fk_a", "dim_a", "id"), ("fact", "fk_b", "dim_b", "id")],
    )
    assert joined.count() == 5_000
    assert set(order) == {"fact", "dim_a", "dim_b"}


def test_non_inner_fold_skips_stats_scans_and_rejects_semi_chains(spark):
    """right/full folds take no stats-driven decision, so the planner
    must not ANALYZE-scan every table just to ignore the numbers; and
    semi/anti chains through a folded right table (whose columns the
    semi join dropped) are rejected up front with a clear error."""
    a = spark.range(0, 10).select(F.col("id").alias("k"))
    b = spark.range(0, 5).select(F.col("id").alias("k"), F.col("id").alias("x"))
    c = spark.range(0, 3).select(F.col("id").alias("x"))

    calls = []
    import custom_python_etl_data_connector_shivaask_username_spark.plans.stats as S

    orig = S.collect_table_stats

    def counting(df, *args, **kw):
        calls.append(1)
        return orig(df, *args, **kw)

    S.collect_table_stats = counting
    try:
        fo, _ = plan_join_tree(
            {"A": a, "B": b}, [("A", "k", "B", "k")], how="full"
        )
        assert fo.count() == 10
        assert calls == []  # zero ANALYZE scans for a hint-less fold
        lj, _ = plan_join_tree(
            {"A": a, "B": b}, [("A", "k", "B", "k")], how="left"
        )
        assert lj.count() == 10
        assert len(calls) == 1  # only the hintable incoming side
    finally:
        S.collect_table_stats = orig
    with pytest.raises(ValueError, match="semi/anti"):
        plan_join_tree(
            {"A": a, "B": b, "C": c},
            [("A", "k", "B", "k"), ("B", "x", "C", "x")],
            how="leftsemi",
        )


def test_range_estimate_survives_infinite_span_column(spark):
    """±DBL_MAX-scale sentinel junk makes max-min overflow to inf; a
    width fraction would then read as 0, so the estimate must claim
    no reduction instead of a silent zero."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        estimate_range_rows,
    )

    df = spark.createDataFrame(
        [(-1.65e308,), (1.65e308,)] + [(float(i),) for i in range(100)],
        "x double",
    )
    est = estimate_range_rows(collect_table_stats(df), "x", 0.0, 99.0)
    assert est == 102  # no information: every non-null row


def test_plan_star_join_declarative_filters(spark, sf_dir):
    """Round 9: `plan_star_join(filters=...)` applies the frame filter
    AND its metadata twin together — equal results to the manual
    two-sided composition, literal cast to the column's type (the
    orderdate pushdown pin lives with the plan pins), and the
    drift-prone filter+override combination is refused."""
    import datetime as dt

    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        apply_filter_to_stats,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        load_table,
        plan_star_join,
        table_stats_cached,
    )

    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    cutoff = dt.datetime(1995, 6, 1)
    declared, order_d = plan_star_join(
        spark, sf_dir, edges,
        filters={"orders": ("o_orderdate", cutoff, None)},
    )
    manual, order_m = plan_star_join(
        spark, sf_dir, edges,
        tables={
            "orders": load_table(spark, sf_dir, "orders").filter(
                F.col("o_orderdate")
                >= F.lit("1995-06-01").cast("timestamp_ntz")
            )
        },
        stats={
            "orders": apply_filter_to_stats(
                table_stats_cached(spark, sf_dir, "orders"),
                "o_orderdate",
                lo=cutoff,
            )
        },
    )
    assert order_d == order_m
    assert declared.count() == manual.count()
    # equality spec
    eq, _ = plan_star_join(
        spark, sf_dir,
        [("customer", "c_nationkey", "nation", "n_nationkey")],
        filters={"nation": ("n_name", ("=", "NATION_3"))},
    )
    want = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation").filter(
                F.col("n_name") == "NATION_3"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .count()
    )
    assert eq.count() == want
    # guards
    with pytest.raises(ValueError, match="non-edge"):
        plan_star_join(
            spark, sf_dir, edges, filters={"part": ("p_size", 1, 2)}
        )
    with pytest.raises(ValueError, match="both filters and tables"):
        plan_star_join(
            spark, sf_dir, edges,
            filters={"orders": ("o_orderdate", cutoff, None)},
            tables={"orders": load_table(spark, sf_dir, "orders")},
        )
    with pytest.raises(ValueError, match="unsupported filter op"):
        plan_star_join(
            spark, sf_dir, edges,
            filters={"orders": ("o_orderdate", (">", cutoff))},
        )


def test_plan_join_tree_exchange_aware_chain_ordering(spark):
    """Round 9: once nothing broadcasts, cost = output estimate +
    shuffled rows, with partitioning tracked through the fold — a
    shuffle join's output is hash-partitioned on its key, so the
    planner orders same-key edges adjacently (the follow-on edge
    re-shuffles only its incoming side). A cardinality-only greedy
    would pick the smaller-estimate different-key edge first and pay
    a full intermediate re-shuffle coming back."""
    f0 = spark.range(0, 100_000).select(
        F.col("id").alias("k"), F.col("id").alias("j")
    )
    f1 = spark.range(0, 80_000).select(F.col("id").alias("k1"))
    d = spark.range(0, 50_000).select(F.col("id").alias("dj"))
    f2 = spark.range(0, 60_000).select(F.col("id").alias("k2"))
    tables = {"f0": f0, "f1": f1, "f2": f2, "d": d}
    edges = [
        ("f0", "k", "f1", "k1"),
        ("f0", "k", "f2", "k2"),
        ("f0", "j", "d", "dj"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=-1
    )
    # the d edge's OUTPUT estimate (50k) undercuts f1's (~60-80k), so
    # cardinality alone would interleave d between the two k-edges;
    # exchange-awareness keeps the k-chain ADJACENT (either side of
    # the j-edge — both placements cost the same 5 exchanges)
    assert abs(order.index("f1") - order.index("f2")) == 1, order
    # and the reuse is real: the planned tree needs at most 5 hash
    # exchanges (4 base shuffles + ONE re-shuffle of the intermediate
    # onto j); interleaving d would add a 6th (count_exchanges, round
    # 10: the old "Exchange hashpartitioning" substring never occurs
    # in this explain dialect, so the pin was vacuous)
    assert count_exchanges(joined) <= 5, formatted_plan(joined)[:2000]
    want = (
        f0.join(f1, F.col("k") == F.col("k1"))
        .join(f2, F.col("k") == F.col("k2"))
        .join(d, F.col("j") == F.col("dj"))
        .count()
    )
    assert joined.count() == want


def test_plan_join_tree_unknown_row_count_is_conservative(spark, sf_dir):
    """Round-9 review finding: a partial stats entry with
    row_count=None must resolve as HUGE — never broadcastable (size
    derived from size_bytes when present), and never a TypeError in
    the shuffle-regime greedy."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    tables = {"nation": nation, "cust": cust}
    edges = [("nation", "n_nationkey", "cust", "c_nationkey")]
    nstats = collect_table_stats(nation)
    cstats = collect_table_stats(cust)
    partial = {**cstats, "row_count": None, "size_bytes": 5 * 10**11}
    joined, order = plan_join_tree(
        tables, edges, stats={"nation": nstats, "cust": partial}
    )
    # 500 GB-claimed cust must NOT be broadcast-hinted; it leads the
    # chain instead and nation attaches
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert order[0] == "cust"
    hints = analyzed.count("ResolvedHint")
    assert hints == 1, analyzed[:800]  # nation only
    assert joined.count() == cust.count()
    # shuffle regime: no comparisons crash on the None
    joined2, _ = plan_join_tree(
        tables,
        edges,
        stats={"nation": nstats, "cust": {**cstats, "row_count": None}},
        broadcast_threshold=-1,
    )
    assert joined2.count() == cust.count()


def test_plan_star_join_filter_with_stats_override(spark, sf_dir):
    """Round-9 review finding: filters + an explicit stats override on
    the SAME table used to KeyError; the frame filter must still
    apply and the override must win outright."""
    import datetime as dt

    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        plan_star_join,
        table_stats_cached,
    )

    edges = [("orders", "o_custkey", "customer", "c_custkey")]
    ostats = table_stats_cached(spark, sf_dir, "orders")
    cutoff = dt.datetime(1995, 6, 1)
    joined, _ = plan_star_join(
        spark,
        sf_dir,
        edges,
        filters={"orders": ("o_orderdate", cutoff, None)},
        stats={"orders": ostats},  # explicit override wins
    )
    want = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp_ntz"))
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .count()
    )
    assert joined.count() == want


def test_plan_join_tree_partition_keys_are_owner_scoped(spark):
    """Round-9 advisory: the exchange-aware greedy tracks the
    intermediate's hash-partitioning as (owner table, column) PAIRS —
    a later edge whose cur-side key merely SHARES a name with a prior
    join key (here A.y vs the B.y⋈C.z fold) must still be charged its
    intermediate re-shuffle. Name-keyed tracking credited it as free,
    pulling the D-edge ahead of the genuinely-free same-key E-edge
    and paying an extra exchange."""
    A = spark.range(0, 50_000).select(
        F.col("id").alias("x"), F.col("id").alias("y")
    )
    # B's second column is ALSO named "y" — a different attribute that
    # happens to share A.y's name, the exact contamination the
    # advisory describes
    B = spark.range(0, 50_000).select(
        F.col("id").alias("x2"), F.col("id").alias("y")
    )
    C = spark.range(0, 60_000).select(F.col("id").alias("z"))
    D = spark.range(0, 70_000).select(F.col("id").alias("w"))
    E = spark.range(0, 80_000).select(F.col("id").alias("v"))
    tables = {"A": A, "B": B, "C": C, "D": D, "E": E}
    edges = [
        ("A", "x", "B", "x2"),
        ("B", "y", "C", "z"),
        ("A", "y", "D", "w"),
        ("C", "z", "E", "v"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=-1
    )
    # after folding A⋈B (on x) then ⋈C (on B.y=z), the intermediate is
    # partitioned on {(B,y), (C,z)}; the E-edge reuses the z exchange
    # (free cur side) while the D-edge joins on the DIFFERENT
    # attribute A.y — owner-scoped keys order E before D; a name-keyed
    # set saw "y" and credited the D-edge as shuffle-free
    assert order.index("E") < order.index("D"), order
    assert count_exchanges(joined) <= 7, formatted_plan(joined)[:2000]
    want = (
        A.join(B, F.col("x") == F.col("x2"))
        .join(C, B["y"] == F.col("z"))
        .join(D, A["y"] == F.col("w"))
        .join(E, F.col("z") == F.col("v"))
        .count()
    )
    assert joined.count() == want


def test_plan_join_tree_first_edge_bhj_not_charged_shuffle(spark):
    """Round-9 advisory: edge_cost (the first-edge twin of cand_cost)
    must not charge shuffle rows to an edge that executes as a BHJ —
    when either side fits the broadcast budget, neither side shuffles.
    Pre-fix, the big fact was charged its full row count on the
    fact-dim edge, over-costing it relative to a fact-fact edge whose
    disjoint key ranges estimate ~0 output, so the greedy started at
    the fact-fact edge instead of the free broadcast fold."""
    f1 = spark.range(0, 100_000).select(
        (F.col("id") % 500).alias("a"), F.col("id").alias("k")
    )
    # d carries a DECOY column named like the cross key, so the bushy
    # rung's ambiguity guard bails and the left-deep greedy (whose
    # edge_cost this test pins) handles the graph
    d = spark.range(0, 500).select(
        F.col("id").alias("b"), (F.col("id") + 1).alias("k")
    )
    # k2 disjoint from f1.k: the fact-fact estimate is ~0
    f2 = spark.range(200_000, 290_000).select(F.col("id").alias("k2"))
    tables = {"f1": f1, "d": d, "f2": f2}
    edges = [("f1", "a", "d", "b"), ("f1", "k", "f2", "k2")]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=256 * 1024
    )
    # the dim edge leads (cost = output estimate only, ~100k, vs the
    # fact-fact edge's est 0 + 190k shuffled rows); pre-fix edge_cost
    # was est + 100k = 200k and lost to 190k
    assert order[0] == "d", order
    want = (
        f1.join(d, F.col("a") == F.col("b"))
        .join(f2, f1["k"] == F.col("k2"))
        .count()
    )
    assert joined.count() == want


def test_plan_join_tree_bushy_split_broadcasts_shrunk_subtree(spark):
    """Round 10 (the round-9 verdict's named gap): dim-filtered fact ⋈
    dim-filtered fact meeting on a key — two independently-shrunk
    subtrees. A left-deep fold cannot express it: connectivity forces
    D2 to attach only AFTER F2 meets the intermediate, so the
    UN-shrunk F2 shuffles at full size (the manual left-deep
    comparator pays ≥2 hash exchanges). The bushy rung chain-folds
    each halo component, sees the F2-subtree's ESTIMATE shrink below
    the build budget, and broadcasts it — zero hash exchanges, the
    facts never shuffle at all."""
    f1 = spark.range(0, 2_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 200_000).alias("d1")
    )
    d1 = spark.range(0, 150_000).select(F.col("id").alias("d1k"))
    f2 = spark.range(0, 1_500_000).select(
        F.col("id").alias("k2"), (F.col("id") % 100_000).alias("d2")
    )
    d2 = spark.range(0, 5_000).select(F.col("id").alias("d2k"))
    tables = {"f1": f1, "d1": d1, "f2": f2, "d2": d2}
    edges = [
        ("f1", "d1", "d1", "d1k"),
        ("f1", "k", "f2", "k2"),
        ("f2", "d2", "d2", "d2k"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    thr = 32 * 1024 * 1024  # facts ~96-128MB estimated: both big
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=thr
    )
    # spliced order: each subtree's chain order in combine sequence —
    # the F1 subtree (est 1.5M rows, too big) leads, the D2-shrunk F2
    # subtree (est ~75k rows) broadcast-attaches
    assert order == ["f1", "d1", "f2", "d2"], order
    plan = formatted_plan(joined)
    assert count_exchanges(joined) == 0, plan[:2000]
    assert "SortMergeJoin" not in plan
    # the left-deep best: F1⋈bcast(D1), then F2 at FULL size (neither
    # the 96MB fact nor the 1.5M-row intermediate fits 32MB) — a real
    # shuffle join (merge hint: Catalyst's auto-broadcast of these
    # statless in-memory ranges would mask the comparison) — then
    # bcast(D2): ≥2 exchanges
    manual = (
        f1.join(F.broadcast(d1), F.col("d1") == F.col("d1k"))
        .join(f2.hint("merge"), F.col("k") == F.col("k2"))
        .join(F.broadcast(d2), F.col("d2") == F.col("d2k"))
    )
    assert count_exchanges(manual) >= 2, formatted_plan(manual)[:2000]
    assert joined.count() == manual.count()


def test_plan_join_tree_bushy_guards_fall_back_to_greedy(spark):
    """The bushy rung is guarded: a dim SHARED by two facts merges
    their components (one component, two big tables) and an ambiguous
    cross-edge column name bails — both fall through to the left-deep
    greedy with correct results."""
    f1 = spark.range(0, 400_000).select(
        F.col("id").alias("k"), (F.col("id") % 50_000).alias("d")
    )
    f2 = spark.range(0, 300_000).select(
        F.col("id").alias("k2"), (F.col("id") % 50_000).alias("d2")
    )
    shared = spark.range(0, 50_000).select(F.col("id").alias("dk"))
    tables = {"f1": f1, "f2": f2, "shared": shared}
    edges = [
        ("f1", "d", "shared", "dk"),
        ("f2", "d2", "shared", "dk"),
        ("f1", "k", "f2", "k2"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=1024 * 1024
    )
    want = (
        f1.join(shared, F.col("d") == F.col("dk"))
        .join(f2, (F.col("d2") == F.col("dk")) & (F.col("k") == F.col("k2")))
        .count()
    )
    assert joined.count() == want
    assert set(order) == set(tables)

    # ambiguity: the F1 halo dim carries a column named like the cross
    # key — the subtree's cross column would be ambiguous, so bushy
    # must bail (not crash, not mis-resolve)
    d1 = spark.range(0, 10_000).select(
        F.col("id").alias("d1k"), (F.col("id") * 2).alias("k")
    )
    tables2 = {"f1": f1, "d1": d1, "f2": f2}
    edges2 = [
        ("f1", "d", "d1", "d1k"),
        ("f1", "k", "f2", "k2"),
    ]
    stats2 = {k: collect_table_stats(v) for k, v in tables2.items()}
    joined2, _ = plan_join_tree(
        tables2, edges2, stats=stats2, broadcast_threshold=1024 * 1024
    )
    want2 = (
        f1.join(d1, F.col("d") == F.col("d1k"))
        .join(f2, f1["k"] == F.col("k2"))
        .count()
    )
    assert joined2.count() == want2


def test_plan_join_tree_bushy_three_facts(spark):
    """Three big facts, each with its own halo: the bushy rung builds
    three subtrees and the recursive combine handles >2 components —
    results equal the written join, every table appears once."""
    f1 = spark.range(0, 500_000).select(
        F.col("id").alias("a"), (F.col("id") % 40_000).alias("ad")
    )
    da = spark.range(0, 8_000).select(F.col("id").alias("adk"))
    f2 = spark.range(0, 400_000).select(
        F.col("id").alias("b"), (F.col("id") % 30_000).alias("bd")
    )
    db = spark.range(0, 6_000).select(F.col("id").alias("bdk"))
    f3 = spark.range(0, 300_000).select(
        F.col("id").alias("c"), (F.col("id") % 20_000).alias("cd")
    )
    dc = spark.range(0, 4_000).select(F.col("id").alias("cdk"))
    tables = {"f1": f1, "da": da, "f2": f2, "db": db, "f3": f3, "dc": dc}
    edges = [
        ("f1", "ad", "da", "adk"),
        ("f2", "bd", "db", "bdk"),
        ("f3", "cd", "dc", "cdk"),
        ("f1", "a", "f2", "b"),
        ("f2", "b", "f3", "c"),
    ]
    stats = {k: collect_table_stats(v) for k, v in tables.items()}
    joined, order = plan_join_tree(
        tables, edges, stats=stats, broadcast_threshold=4 * 1024 * 1024
    )
    assert sorted(order) == sorted(tables)
    # the bushy rung FIRED (round-10 review finding: the old ambiguity
    # check false-positived on f2 owning "b" in two cross edges and
    # silently fell back to the greedy, making this pin vacuous):
    # spliced subtree orders keep each fact's halo dim immediately
    # after its fact
    for fact, dim in (("f1", "da"), ("f2", "db"), ("f3", "dc")):
        assert order.index(dim) == order.index(fact) + 1, order
    want = (
        f1.join(da, F.col("ad") == F.col("adk"))
        .join(f2, F.col("a") == F.col("b"))
        .join(db, F.col("bd") == F.col("bdk"))
        .join(f3, F.col("b") == F.col("c"))
        .join(dc, F.col("cd") == F.col("cdk"))
        .count()
    )
    assert joined.count() == want


def test_plan_join_tree_flip_keeps_streamed_scan_partitioning(spark):
    """Round 10 (SURVEY §10 candidate): the build-side flip's output
    inherits the STREAMED side's scan partitioning — a declared bucket
    key on the streamed table must survive the flip as a reusable hash
    key, so a later same-key edge is not charged a phantom intermediate
    re-shuffle. The shared dim d0 merges both facts' components (bushy
    bails → greedy); the greedy starts at the selective g⋈d0 edge and
    FLIPS (g streams through broadcast(d0)). Pre-fix the flip cleared
    cur_keys, the k2-edge was charged a 75k-row re-shuffle, and the
    smaller-estimate W-edge folded first; post-fix g's declared k2 key
    survives and the fact folds next."""
    fact = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("d")
    )
    d0 = spark.range(0, 50).select(F.col("id").alias("d0k"))
    g = spark.range(0, 150_000).select(
        F.col("id").alias("k2"),
        (F.col("id") % 100).alias("gd"),
        F.col("id").alias("w"),
    )
    w_tab = spark.range(0, 30_000).select(F.col("id").alias("w2"))
    tables = {"fact": fact, "d0": d0, "g": g, "W": w_tab}
    edges = [
        ("fact", "d", "d0", "d0k"),
        ("g", "gd", "d0", "d0k"),
        ("fact", "k", "g", "k2"),
        ("g", "w", "W", "w2"),
    ]
    stats = {n: collect_table_stats(t) for n, t in tables.items()}
    joined, order = plan_join_tree(
        tables,
        edges,
        stats=stats,
        broadcast_threshold=1024 * 1024,
        partitioned_on={"fact": ["k"], "g": ["k2"]},
    )
    assert order[:2] == ["d0", "g"], order  # the flip fold happened
    assert order.index("fact") < order.index("W"), order
    want = (
        g.join(d0, F.col("gd") == F.col("d0k"))
        .join(
            fact,
            (F.col("k") == F.col("k2")) & (F.col("d") == F.col("d0k")),
        )
        .join(w_tab, F.col("w") == F.col("w2"))
        .count()
    )
    assert joined.count() == want


def test_composite_key_edges_plan_on_group_ndv(spark):
    """Round-11 verdict ask #6: `plan_join_tree` edges accept column
    TUPLES. The composite join's NDV (`_group_ndv`) is the max
    single-column NDV — the provable lower bound — so per-column
    Selinger over (a, b) overestimates this planted pair-key join
    ~150x and the planner defers the composite fold; results are
    identical either way. Also pins the arity guard and the tuple
    threading through the exchange-aware partitioning keys (subset
    rule: a partitioning on (a,b) satisfies an edge only if
    {a,b} <= its columns)."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        _part_satisfied,
        _scan_part_satisfied,
        estimate_join_rows,
    )

    B = spark.range(0, 30_000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") / 200).cast("long").alias("b"),
        F.col("id").alias("bpay"),
    )
    A = spark.range(0, 10_000).select(
        (F.col("id") % 200).alias("a"),
        ((F.col("id") * 3) % 150).alias("b"),
        (F.col("id") % 500).alias("x"),
        F.col("id").alias("apay"),
    )
    C = spark.range(0, 40_000).select(
        (F.col("id") % 500).alias("x"), F.col("id").alias("cpay")
    )
    sa, sb, sc = (
        collect_table_stats(A),
        collect_table_stats(B),
        collect_table_stats(C),
    )

    truth = A.join(B, ["a", "b"]).count()
    est = estimate_join_rows(sa, ("a", "b"), sb, ("a", "b"))
    max_ndv = max(
        s["columns"][c]["ndv"] for s in (sa, sb) for c in ("a", "b")
    )
    assert est == pytest.approx(10_000 * 30_000 / max_ndv)
    assert est > 50 * truth  # the per-column overestimate

    tbl = {"A": A, "B": B, "C": C}
    th = 1024 * 1024  # B and C are too big to broadcast, A fits
    planned, order = plan_join_tree(
        tbl,
        [("A", ("a", "b"), "B", ("a", "b")), ("A", "x", "C", "x")],
        stats={"A": sa, "B": sb, "C": sc},
        broadcast_threshold=th,
    )
    assert order == ["A", "C", "B"], order
    assert planned.count() == 800_000

    # arity mismatch is a loud error, not a silent zip truncation
    with pytest.raises(ValueError, match="arity"):
        plan_join_tree(tbl, [("A", ("a", "b"), "B", "a")], stats={})

    # partitioning subset rule: (a,b) satisfies an edge on (a,b) or
    # wider, never an edge on a alone
    assert _scan_part_satisfied({"T": ["a", "b"]}, "T", ("a", "b"))
    assert not _scan_part_satisfied({"T": ["a", "b"]}, "T", ("a",))
    assert _part_satisfied({("T", ("a",))}, "T", ("a", "b"))
    assert not _part_satisfied({("T", ("a", "b"))}, "T", ("a",))


def test_plan_join_tree_using_mode_shared_lineage(spark):
    """X57 (round 12, planner dogfooding): a join graph whose frames
    share lineage — flag frames derived from one base, the
    incremental-dedup disposition shape — switches to USING-column
    joins, which the analyzer's relation dedup resolves exactly like
    the hand-written `df.join(other, "key")` chains. Pinned: left-family
    fold over shared-lineage frames returns the hand-written rows; the
    all-ids-shared self-join still raises; differing key names in a
    shared-lineage graph raise; residual (cyclic) edges raise."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        plan_join_tree,
    )

    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    fa = base.filter("g = 0").select("id", F.lit(True).alias("fa"))
    fb = base.filter("g = 1").select("id", F.lit(True).alias("fb"))
    lead = base.select("id")
    st = {
        "lead": {"row_count": 100, "size_bytes": 800, "columns": {}},
        "fa": {"row_count": 15, "size_bytes": 200, "columns": {}},
        "fb": {"row_count": 15, "size_bytes": 200, "columns": {}},
    }
    folded, order = plan_join_tree(
        {"lead": lead, "fa": fa, "fb": fb},
        [("lead", "id", "fa", "id"), ("lead", "id", "fb", "id")],
        stats=st,
        how="left",
    )
    want = sorted(
        tuple(r)
        for r in lead.join(fa, "id", "left").join(fb, "id", "left").collect()
    )
    assert sorted(tuple(r) for r in folded.collect()) == want
    assert order == ["lead", "fa", "fb"]

    # inner greedy through USING mode: equality vs hand-written
    inner, _ = plan_join_tree(
        {"lead": lead, "fa": fa},
        [("lead", "id", "fa", "id")],
        stats={k: st[k] for k in ("lead", "fa")},
    )
    assert sorted(tuple(r) for r in inner.collect()) == sorted(
        tuple(r) for r in lead.join(fa, "id").collect()
    )

    # ALL ids shared (same plan / alias) stays the loud self-join error
    with pytest.raises(ValueError, match="self-join"):
        plan_join_tree(
            {"a": lead, "b": lead}, [("a", "id", "b", "id")], stats={}
        )
    # shared lineage + differently-named keys cannot USING: fc keeps
    # the shared `id` attribute aboard (select("id", ...) preserves the
    # expr id; an alias would mint a fresh one and leave the graph
    # lineage-distinct) while the edge joins on the derived id2
    fc = base.filter("g = 2").select(
        "id", (F.col("id") + 0).alias("id2"), F.lit(True).alias("fc")
    )
    with pytest.raises(ValueError, match="USING"):
        plan_join_tree(
            {"lead": lead, "fc": fc},
            [("lead", "id", "fc", "id2")],
            stats={},
        )
    # residual (cyclic) edge in USING mode is inexpressible — inner,
    # because the non-inner fold already rejects double-incoming edges
    with pytest.raises(ValueError, match="residual"):
        plan_join_tree(
            {"lead": lead, "fa": fa, "fb": fb},
            [
                ("lead", "id", "fa", "id"),
                ("lead", "id", "fb", "id"),
                ("fa", "id", "fb", "id"),
            ],
            stats=st,
        ).__class__  # the error fires during planning, not collect


def test_stats_from_plan_bridge_and_generate_bias(spark, sf_dir):
    """X57 derived-frame stats bridge: scan sizes are real file bytes;
    and the DOCUMENTED Catalyst bias is pinned so a Spark upgrade that
    fixes it gets noticed — size-only estimation passes the child's
    sizeInBytes through Generate (explode), so an exploded frame
    claims its input's size (optimistic, the reason lm_quality
    overlays gram-mass bounds instead of trusting the bridge)."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        stats_from_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    st = stats_from_plan(docs)
    assert st["size_bytes"] > 0
    assert st["columns"] == {}

    exploded = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    child = docs.select("doc_id", F.split("text", " ").alias("ws"))
    assert (
        stats_from_plan(exploded)["size_bytes"]
        <= stats_from_plan(child)["size_bytes"]
    ), (
        "Catalyst now grows sizeInBytes through Generate — revisit the "
        "lm_quality overlay comment (the bias this pin documents is gone)"
    )
