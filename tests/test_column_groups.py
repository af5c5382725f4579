"""X37 pins: column-group NDV kills the independence underestimate on
correlated eq-conjunctions; greedy cover composes groups with leftover
per-column NDV; the metadata-only filtered-stats twin stays sane."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
    apply_eq_conjunction_to_stats,
    collect_column_group_stats,
    estimate_eq_conjunction_rows,
    group_key,
)
from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
    collect_table_stats,
)


@pytest.fixture(scope="module")
def correlated(spark):
    # b is fully determined by a: ndv(a)=100, ndv(b)=10, but
    # ndv(a,b)=100 — independence overstates the denominator 10x
    df = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("a"),
        ((F.col("id") % 100) % 10).alias("b"),
        # c varies across the rows sharing an `a` (id // 100), so it
        # is genuinely independent of the (a, b) pair
        ((F.col("id") / 100).cast("long") % 4).alias("c"),
    )
    df.persist().count()
    yield df
    df.unpersist()


def test_group_ndv_corrects_correlated_eq(spark, correlated):
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(correlated, base, [["a", "b"]])
    g = stats["column_groups"][group_key(["a", "b"])]
    assert abs(g["ndv"] - 100) <= 10  # HLL++ ~5% rsd
    assert g["non_null"] == 10_000
    actual = correlated.filter((F.col("a") == 5) & (F.col("b") == 5)).count()
    assert actual == 100
    with_group = estimate_eq_conjunction_rows(stats, {"a": 5, "b": 5})
    independent = estimate_eq_conjunction_rows(base, {"a": 5, "b": 5})
    # the group estimate tracks truth; independence is ~10x under
    assert abs(with_group - actual) <= 0.15 * actual
    assert independent < actual / 5


def test_cover_composes_group_with_leftover_column(correlated):
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(correlated, base, [["a", "b"]])
    est = estimate_eq_conjunction_rows(stats, {"a": 5, "b": 5, "c": 1})
    actual = correlated.filter(
        (F.col("a") == 5) & (F.col("b") == 5) & (F.col("c") == 1)
    ).count()
    # group 1/100 for (a,b) times independence 1/4 for the leftover c
    assert abs(est - actual) <= max(5, 0.3 * actual), (est, actual)


def test_group_ndv_never_exceeds_independence_product(correlated):
    """ndv(group) <= prod(ndv) always, so the corrected estimate can
    only move UP toward truth, never below the independence floor."""
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(correlated, base, [["a", "b"]])
    assert estimate_eq_conjunction_rows(
        stats, {"a": 5, "b": 5}
    ) >= estimate_eq_conjunction_rows(base, {"a": 5, "b": 5})


def test_null_tuples_excluded_from_group(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, None), (None, 3)], "a int, b int"
    )
    stats = collect_column_group_stats(
        df, collect_table_stats(df), [["a", "b"]]
    )
    g = stats["column_groups"]["a|b"]
    assert g["ndv"] == 1  # only the fully-present (1,1) tuple counts
    assert g["non_null"] == 2


def test_apply_eq_conjunction_to_stats_metadata_only(correlated):
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(correlated, base, [["a", "b"]])
    f = apply_eq_conjunction_to_stats(stats, {"a": 5, "b": 5})
    actual = correlated.filter((F.col("a") == 5) & (F.col("b") == 5)).count()
    assert abs(f["row_count"] - actual) <= 0.15 * actual
    assert f["columns"]["a"]["ndv"] == 1
    assert f["columns"]["a"]["min"] == f["columns"]["a"]["max"] == 5
    assert f["columns"]["c"]["ndv"] <= f["row_count"]
    assert "column_groups" not in f  # invalid post-filter


def test_group_validation(spark, correlated):
    base = collect_table_stats(correlated)
    with pytest.raises(ValueError, match=">= 2"):
        collect_column_group_stats(correlated, base, [["a"]])
    with pytest.raises(ValueError, match="absent"):
        collect_column_group_stats(correlated, base, [["a", "zzz"]])
    assert collect_column_group_stats(correlated, base, []) is base


def test_eq_outside_range_estimates_zero(correlated):
    """A value the stats PROVE impossible (outside min/max) caps the
    conjunction at 0 — while an in-range point on the min/max
    fallback models equality (rows-per-value), never 0."""
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(correlated, base, [["a", "b"]])
    assert estimate_eq_conjunction_rows(stats, {"a": 5, "b": 12345}) == 0.0
    assert estimate_eq_conjunction_rows(stats, {"a": -7, "b": 5}) == 0.0
    inside = estimate_eq_conjunction_rows(stats, {"a": 5, "b": 5})
    assert inside > 0


def test_sampled_stats_never_prove_zero(correlated):
    """Sampled min/max are under-estimates (X33): a value outside
    them is NOT proven impossible, so the zero cap must not fire and
    fabricate a broadcastable row_count=0 table."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        collect_table_stats_sampled,
    )

    stats = collect_table_stats_sampled(correlated, 0.05)
    # a value just beyond the sampled max of `a` (true range is 0..99;
    # force the out-of-sampled-range case deterministically)
    beyond = stats["columns"]["a"]["max"] + 1
    est = estimate_eq_conjunction_rows(stats, {"a": beyond})
    assert est > 0  # no reduction-to-zero from unreliable bounds
    # exact stats still prove zero
    exact = collect_table_stats(correlated)
    assert estimate_eq_conjunction_rows(exact, {"a": 12345}) == 0.0


def test_suggest_column_groups_mines_workload(spark, correlated):
    """Round 9: the planted correlated workload — three queries
    conjoining a=.. AND b=.., one conjoining a AND c once, plenty of
    single-column filters — must surface exactly the (a, b) group;
    the suggestion then feeds collect_column_group_stats and beats
    independence, closing the loop from query log to better plans."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        filter_eq_conjunctions,
        suggest_column_groups,
    )

    workload = [
        correlated.filter((F.col("a") == 5) & (F.col("b") == 5)),
        correlated.filter((F.col("a") == 7) & (F.col("b") == 7)),
        # reversed conjunct order still votes for the same sorted set
        correlated.filter((F.col("b") == 3) & (F.col("a") == 3)),
        correlated.filter((F.col("a") == 1) & (F.col("c") == 1)),  # once
        correlated.filter(F.col("a") == 9),   # single column: no vote
        correlated.filter(F.col("c") == 2),
        # join conditions and isnotnull guards must NOT vote
        correlated.alias("x").join(
            correlated.alias("y").select(F.col("a").alias("a2")),
            F.col("a") == F.col("a2"),
        ),
    ]
    got = suggest_column_groups(workload, min_count=2)
    assert got and got[0]["columns"] == ["a", "b"]
    assert got[0]["count"] == 3
    # the once-seen (a, c) conjunction is below min_count
    assert ["a", "c"] not in [g["columns"] for g in got]
    # plan STRINGS from an offline log work identically
    plans = [
        str(df._jdf.queryExecution().optimizedPlan()) for df in workload
    ]
    assert suggest_column_groups(plans, min_count=2) == got
    # single-column filters yield no conjunctions at all
    solo = str(
        workload[4]._jdf.queryExecution().optimizedPlan()
    )
    assert filter_eq_conjunctions(solo) == []
    # close the loop: the mined group corrects the estimate
    base = collect_table_stats(correlated)
    stats = collect_column_group_stats(
        correlated, base, [g["columns"] for g in got[:1]]
    )
    actual = correlated.filter(
        (F.col("a") == 5) & (F.col("b") == 5)
    ).count()
    with_group = estimate_eq_conjunction_rows(stats, {"a": 5, "b": 5})
    independent = estimate_eq_conjunction_rows(base, {"a": 5, "b": 5})
    assert abs(with_group - actual) <= 0.15 * actual
    assert independent < actual / 5


def test_disjunctions_do_not_vote(spark, correlated):
    """Round-9 advisory: `(a = 5) OR (b = 3)` is not conjunction
    evidence — a Filter containing a disjunction must not vote, or
    suggest_column_groups recommends ANALYZE passes for column sets
    the workload never actually conjoins."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        filter_eq_conjunctions,
        suggest_column_groups,
    )

    ors = [
        correlated.filter((F.col("a") == 5) | (F.col("b") == 3)),
        correlated.filter((F.col("a") == 7) | (F.col("b") == 1)),
        correlated.filter((F.col("a") == 2) | (F.col("c") == 4)),
    ]
    for df in ors:
        plan = str(df._jdf.queryExecution().optimizedPlan())
        assert " OR " in plan  # the scenario is real in this plan dialect
        assert filter_eq_conjunctions(plan) == []
    assert suggest_column_groups(ors, min_count=2) == []
    # and a true conjunction alongside the ORs still surfaces alone
    mixed = ors + [
        correlated.filter((F.col("a") == 5) & (F.col("b") == 5)),
        correlated.filter((F.col("a") == 7) & (F.col("b") == 7)),
    ]
    got = suggest_column_groups(mixed, min_count=2)
    assert [g["columns"] for g in got] == [["a", "b"]]


# --- X60 (round 12): 2-D histograms for correlated RANGE conjunctions ------


@pytest.fixture(scope="module")
def corr_ranges(spark):
    # y tracks x (y = x + small deterministic jitter): a conjunctive
    # range on both is ~one range's selectivity, not the product
    df = spark.range(0, 20_000).select(
        (F.col("id") % 1000).cast("double").alias("x"),
        ((F.col("id") % 1000) + (F.col("id") % 7)).cast("double").alias("y"),
        (F.col("id") % 4).alias("c"),
    )
    df.persist().count()
    yield df
    df.unpersist()


def _h2_stats(df):
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        collect_histogram_2d,
    )

    return collect_histogram_2d(df, collect_table_stats(df), [["x", "y"]])


def test_hist2d_corrects_correlated_ranges(spark, corr_ranges):
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        estimate_range_conjunction_rows,
    )

    base = collect_table_stats(corr_ranges)
    stats = _h2_stats(corr_ranges)
    rngs = {"x": (100.0, 199.0), "y": (100.0, 205.0)}
    actual = corr_ranges.filter(
        (F.col("x") >= 100) & (F.col("x") <= 199)
        & (F.col("y") >= 100) & (F.col("y") <= 205)
    ).count()
    joint = estimate_range_conjunction_rows(stats, rngs)
    independent = estimate_range_conjunction_rows(base, rngs)
    # ~10% of rows match; independence claims ~1%
    assert abs(joint - actual) <= 0.35 * actual, (joint, actual)
    assert independent < actual / 3, (independent, actual)


def test_hist2d_estimate_capped_by_single_columns(corr_ranges):
    """Monotonicity: the joint estimate never exceeds any single
    predicate's own histogram estimate, and leftover columns still
    multiply independently."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        estimate_range_conjunction_rows,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        estimate_range_rows,
    )

    stats = _h2_stats(corr_ranges)
    rngs = {"x": (100.0, 199.0), "y": (100.0, 205.0)}
    joint = estimate_range_conjunction_rows(stats, rngs)
    for c, (lo, hi) in rngs.items():
        assert joint <= estimate_range_rows(stats, c, lo, hi) + 1e-9
    # leftover column composes by independence on top of the grid
    with_c = estimate_range_conjunction_rows(
        stats, {**rngs, "c": (0, 0)}
    )
    assert with_c <= joint


def test_hist2d_survives_sidecar_roundtrip(spark, corr_ranges, tmp_path):
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        estimate_range_conjunction_rows,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        read_stats_sidecar,
        write_stats_sidecar,
    )

    stats = _h2_stats(corr_ranges)
    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    write_stats_sidecar(spark, path, stats)
    revived = read_stats_sidecar(spark, path)
    rngs = {"x": (100.0, 199.0), "y": (100.0, 205.0)}
    assert estimate_range_conjunction_rows(
        revived, rngs
    ) == estimate_range_conjunction_rows(stats, rngs)


def test_apply_range_conjunction_to_stats_metadata_only(corr_ranges):
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        apply_range_conjunction_to_stats,
    )

    stats = _h2_stats(corr_ranges)
    f = apply_range_conjunction_to_stats(
        stats, {"x": (100.0, 199.0), "y": (100.0, 205.0)}
    )
    actual = corr_ranges.filter(
        (F.col("x") >= 100) & (F.col("x") <= 199)
        & (F.col("y") >= 100) & (F.col("y") <= 205)
    ).count()
    assert abs(f["row_count"] - actual) <= 0.35 * actual
    assert f["columns"]["x"]["min"] == 100.0
    assert f["columns"]["x"]["max"] == 199.0
    assert f["columns"]["x"]["null_count"] == 0
    assert f["columns"]["c"]["ndv"] <= f["row_count"]
    assert "column_groups" not in f


def test_point_range_falls_back_to_1d_model(corr_ranges):
    """A zero-measure (point) range on an axis is not priceable off a
    continuous grid — the pair falls back to the 1-D point model via
    independence instead of claiming zero mass."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        estimate_range_conjunction_rows,
    )

    stats = _h2_stats(corr_ranges)
    est = estimate_range_conjunction_rows(
        stats, {"x": (100.0, 100.0), "y": (100.0, 107.0)}
    )
    assert est > 0.0


def test_suggest_histogram_pairs_mines_range_workload(spark, corr_ranges):
    """X60 miner: Filter nodes range-bounding >=2 columns vote their
    pairs; single-column ranges and disjunctions never vote (the X47
    doctrine on the range side)."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        filter_range_conjunctions,
        suggest_histogram_pairs,
    )

    conj = corr_ranges.filter(
        (F.col("x") >= 100) & (F.col("x") <= 200) & (F.col("y") <= 250)
    )
    single = corr_ranges.filter(F.col("x") >= 500)
    disj = corr_ranges.filter((F.col("x") >= 100) | (F.col("y") <= 50))

    assert filter_range_conjunctions(
        str(conj._jdf.queryExecution().optimizedPlan())
    ) == [["x", "y"]]
    assert filter_range_conjunctions(
        str(single._jdf.queryExecution().optimizedPlan())
    ) == []
    assert filter_range_conjunctions(
        str(disj._jdf.queryExecution().optimizedPlan())
    ) == []

    got = suggest_histogram_pairs([conj, conj, single, disj])
    assert got == [{"columns": ["x", "y"], "count": 2}]
    # below min_count: no recommendation
    assert suggest_histogram_pairs([conj, single]) == []


def test_one_sided_grid_clamps_join_key_containment(spark):
    """X60 partner clamp: a range filter on a grid-partnered column
    localizes the unfiltered column to the cells with surviving joint
    mass (`axis_range`), and estimate_join_rows' containment
    refinement reads it — an event-time filter shrinks a correlated
    join key's effective domain. Planted: k tracks ts; filtering ts to
    its first 10% cuts the k-uniform dim join ~10x where the legacy
    filtered stats (full k range survives) stay ~10x over. The clamp
    can only tighten: axis_range intersects min/max and an
    inconsistent record is ignored."""
    from custom_python_etl_data_connector_shivaask_username_spark.plans.column_groups import (
        apply_range_conjunction_to_stats,
        collect_histogram_2d,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
        _range,
        apply_filter_to_stats,
        estimate_join_rows,
    )

    fact = spark.range(0, 20_000).select(
        (F.col("id") % 1000).cast("double").alias("ts"),
        ((F.col("id") % 1000) + (F.col("id") % 5)).cast("double").alias("k"),
    )
    # the dim covers ONLY the low key range: containment is exactly
    # the refinement that sees a disjoint/barely-overlapping domain
    dim = spark.range(0, 2_000).select(
        (F.col("id") % 100).cast("double").alias("k2")
    )
    base = collect_table_stats(fact)
    grid = collect_histogram_2d(fact, base, [["ts", "k"]])
    dim_stats = collect_table_stats(dim)

    # sanity of the clamp itself on a low filter: conservative cell
    # bounds around the true conditional support [0, 103] (16 cells
    # over ~[0, 1003] are ~63 wide)
    f_low = apply_range_conjunction_to_stats(grid, {"ts": (0.0, 99.0)})
    ar = f_low["columns"]["k"].get("axis_range")
    assert ar is not None
    assert ar[0] <= 0.0 + 1e-9 and 103.0 <= ar[1] <= 260.0, ar

    # a LATE-time filter moves the correlated key out of the dim's
    # domain entirely: the clamp proves the join ~empty, the legacy
    # filtered stats (full k range survives the ts filter) cannot
    f = apply_range_conjunction_to_stats(grid, {"ts": (900.0, 999.0)})
    truth = (
        fact.filter((F.col("ts") >= 900) & (F.col("ts") <= 999))
        .join(dim, F.col("k") == F.col("k2"))
        .count()
    )
    assert truth == 0
    clamped = estimate_join_rows(f, "k", dim_stats, "k2")
    legacy = estimate_join_rows(
        apply_filter_to_stats(base, "ts", lo=900.0, hi=999.0),
        "k",
        dim_stats,
        "k2",
    )
    assert clamped == 0.0, clamped
    assert legacy >= 1000, legacy

    # the clamp only ever tightens: an inconsistent axis_range is
    # ignored and a consistent one intersects min/max
    st = {
        "row_count": 10,
        "columns": {
            "k": {"type": "double", "min": 0.0, "max": 100.0,
                  "axis_range": [200.0, 300.0]},
        },
    }
    assert _range(st, "k") == (0.0, 100.0)
    st["columns"]["k"]["axis_range"] = [50.0, 400.0]
    assert _range(st, "k") == (50.0, 100.0)
