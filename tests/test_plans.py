"""Plan-shape regression tests: the 100 TB properties, asserted.

If any of these fail after a refactor, the query got slower at scale even
if correctness held.
"""

from __future__ import annotations

from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
    has_node,
    pushed_filters,
    scan_schemas,
)
from custom_python_etl_data_connector_shivaask_username_spark.registry import (
    QUERIES,
    load_all,
)

load_all()


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed
    # 7 of 11 lineitem columns read
    schema = scan_schemas(df)[0]
    assert schema.count(":") == 7
    assert "l_orderkey" not in schema  # unused key pruned
    # partial + final agg = exactly 1 data shuffle (plus the tiny sort,
    # plus spread_small_input's local-only round-robin exchange — a
    # guarded no-op on any multi-row-group input, see tables.py)
    assert count_exchanges(df) <= 3


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    df = QUERIES["q_revenue_by_nation"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # the broadcasts come from the written hints, not AQE luck: every
    # one of the 4 joins carries an explicit broadcast strategy
    opt = str(df._jdf.queryExecution().optimizedPlan())
    assert opt.count("strategy=broadcast") >= 4
    # orderdate filter pushed into the orders scan
    assert any("o_orderdate" in p for p in pushed_filters(df))


def test_top_k_never_fully_sorts(spark, sf_dir):
    # offset+limit pagination still collapses to TakeOrderedAndProject —
    # per-partition heaps of (offset+limit) rows, offset dropped at the
    # driver merge; a full sort never materializes
    from custom_python_etl_data_connector_shivaask_username_spark.operators.sorting import (
        q_top_orders_page,
    )

    df = q_top_orders_page(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert count_exchanges(df) == 0


def test_global_sort_is_range_partitioned(spark, sf_dir):
    # O1's scale shape: sampled range boundaries + per-partition sort
    from custom_python_etl_data_connector_shivaask_username_spark.operators.sorting import (
        q_ordered_priorities,
    )

    df = q_ordered_priorities(spark, sf_dir)
    plan = formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    assert has_node(df, "Sort")


def test_sorting_suite_union_preserves_arm_shapes(spark, sf_dir):
    # the round-6 fold must not cost either arm its physical shape:
    # TakeOrderedAndProject (page) and rangepartitioning+Sort
    # (global_sort) coexist under the Union, and the page arm adds no
    # exchange (exactly 1 total: the range sort)
    df = QUERIES["q_sorting_suite"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_node(df, "TakeOrderedAndProject")
    assert "rangepartitioning" in plan.lower()
    assert count_exchanges(df) == 1


def test_semi_and_anti_join_shapes(spark, sf_dir):
    # has_orders is derived from a semi ∪ anti union (not order_count>0)
    # precisely so the merged query keeps both physical shapes honest
    plan = formatted_plan(QUERIES["q_customer_order_counts"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "LeftOuter" in plan  # J2 leg of the merged query
    assert "FullOuter" in plan  # nation_presence branch (round-6 fold)


def test_theta_join_keeps_small_side_broadcast(spark, sf_dir):
    df = QUERIES["q_orders_by_price_band"](spark, sf_dir)
    assert has_node(df, "BroadcastNestedLoopJoin")


def test_window_topk_uses_group_limit(spark, sf_dir):
    df = QUERIES["q_top3_orders_per_customer"](spark, sf_dir)
    # Spark 3.5+/4 inserts WindowGroupLimit before the full window sort
    assert has_node(df, "WindowGroupLimit")


def test_dedup_is_single_shuffle(spark, sf_dir):
    """L1 doc-level dedup stays ONE hash-agg shuffle; the registry row
    additionally carries the round-14 span branch, whose exchanges are
    its own (span-hash agg + survivor flag join + per-doc rollup +
    short-doc join) — pinned loosely so a planner improvement can only
    tighten it."""
    from pyspark.sql import functions as F

    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    doc_only = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id"), F.count(F.lit(1))
    )
    assert count_exchanges(doc_only) <= 1  # the L1 operator itself
    df = QUERIES["q_dedup_exact_documents"](spark, sf_dir)
    assert count_exchanges(df) <= 8  # both branches + union + sort


def test_vector_topk_is_scan_plus_takeordered(spark, sf_dir):
    df = QUERIES["q_topk_similar_embeddings"](spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert count_exchanges(df) == 0  # no shuffle at all: map + heap-merge


def test_window_suite_shares_one_shuffle(spark, sf_dir):
    # two frame specs (price ranks + date-ordered running sum) must reuse
    # the single o_custkey hash partitioning — 1 exchange, 2 sorts
    df = QUERIES["q_order_ranks_per_customer"](spark, sf_dir)
    assert count_exchanges(df) == 1
    df2 = QUERIES["q_event_deltas"](spark, sf_dir)
    assert count_exchanges(df2) == 1


def test_minhash_shuffles_ids_not_shingles(spark, sf_dir):
    # the round-1 formulation carried shingle arrays through the band
    # explode; the rebuild must shuffle only fixed-width columns
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        q_near_dup_pairs_minhash,
    )

    df = q_near_dup_pairs_minhash(spark, sf_dir)
    plan = formatted_plan(df)
    exchange_lines = [
        line for line in plan.splitlines() if "Exchange" in line
    ]
    assert exchange_lines, "expected shuffle exchanges in the plan"
    assert not any("shingle" in line for line in exchange_lines)
    assert count_exchanges(df) <= 4  # sig agg, buckets, pair dedup (+AQE)


def test_grouped_pandas_ops_shuffle_once(spark, sf_dir):
    asof = QUERIES["q_asof_pandas_merge"](spark, sf_dir)
    assert has_node(asof, "FlatMapGroupsInPandas")
    assert count_exchanges(asof) == 1


def test_per_row_suites_are_map_only(spark, sf_dir):
    # scalar suite and doc profile must stay one codegen'd Project over
    # the scan — zero exchanges at any scale
    assert count_exchanges(QUERIES["q_scalar_suite"](spark, sf_dir)) == 0
    assert count_exchanges(QUERIES["q_doc_profile"](spark, sf_dir)) == 0


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    # the benchmark side must broadcast (MBs even at 100 TB corpus) and
    # no exchange may carry a gram array — only exploded scalar rows
    df = QUERIES["q_ngram_overlap_pairs"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    exchange_lines = [
        line for line in plan.splitlines() if "Exchange" in line
    ]
    assert not any("grams" in line for line in exchange_lines)


def test_curation_mix_no_sortmergejoin(spark, sf_dir):
    # sampling is map-side (hash bucket filter, no rand()); selection
    # is the skew-safe partition prefix-sum (no per-lang Window — that
    # is asserted in test_llm_curation); summaries broadcast-join
    df = QUERIES["q_curation_mix"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("SortMergeJoin") == 0  # tiny summaries broadcast


def test_incremental_dedup_plan_shapes(spark, sf_dir):
    """X15's scale contract in the plan: no cartesian anywhere; the only
    joins allowed to be corpus-bound (SortMergeJoin) are the gram
    inverted-index probes — every doc-cardinality frame (hash sets,
    gram counts, disposition flags) broadcasts; exact branches use
    semi/anti, never row-duplicating joins. (Counts are from the
    static plan; AQE further collapses SMJs at runtime.)"""
    plan = formatted_plan(QUERIES["q_incremental_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 10
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_planner_routed_queries_exchange_neutral(spark, sf_dir):
    """Exchange-count pins for the multi-join registry queries:
    q_customer_order_counts (left/semi/anti folds + the counts⋈presence
    inner fold + the full-outer nation branch), q_incremental_dedup
    (the gram probe and the disposition fold) and q_lm_quality (the
    corpus probe join, model side broadcast under the gram-mass bound).
    A plan change may only match or tighten these counts."""
    assert count_exchanges(QUERIES["q_customer_order_counts"](spark, sf_dir)) == 5
    assert count_exchanges(QUERIES["q_incremental_dedup"](spark, sf_dir)) == 9
    assert count_exchanges(QUERIES["q_lm_quality"](spark, sf_dir)) == 8


def test_lm_probe_join_scale_adaptive(spark):
    """The probe join's one size decision flips with the broadcast
    budget: while the gram-mass bound on the model side (8× the docs
    scan estimate) fits, the model side carries a broadcast hint; past
    it the hint is dropped and Catalyst/AQE plan the probe. The vocab
    scalar's own broadcast hint is always there. Answers are equal.

    The rule's premise is pinned too, so a Spark upgrade that changes
    it gets noticed: size-only estimation passes the child's
    sizeInBytes through Generate, so an exploded frame claims its
    input's size and Catalyst alone would under-size the gram side."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_text import (
        lm_quality_scores,
    )
    from pyspark.sql import functions as F

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("w"), (F.col("id") % 50).cast("string"), F.lit("x y")
        ).alias("text"),
    )

    def size(df):
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))

    exploded = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    child = docs.select("doc_id", F.split("text", " ").alias("ws"))
    assert size(exploded) <= size(child)

    def planned(budget):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
        try:
            df = lm_quality_scores(docs)
            opt = str(df._jdf.queryExecution().optimizedPlan())
            return opt.count("strategy=broadcast"), sorted(map(tuple, df.collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    fits, rows_fit = planned(str(10 * 1024 * 1024))
    over, rows_over = planned("1024")
    assert (fits, over) == (2, 1)
    assert rows_fit == rows_over
