"""Plan-construction cost pins for the planner-routed registry queries
(round 13, VERDICT r12 ask #3).

The round-12 sf0.1 interleaved A/B's two biggest movers were the
planner-routed queries (1.29× each) while both were sf1-flat — the
signature of a FIXED plan-construction overhead, invisible at scale and
~0.3 s against a 1 s query. The round-13 driver-side timer localized it:
`spark.read.parquet` costs a ~150 ms JVM round-trip (footer + schema
resolution) and plan construction re-read the same immutable fixture
paths up to 8× per call. `tables.load_table` is now memoized per
(session, sf_dir, table), which cut measured plan time (min-of-7,
sf0.1, local[8]):

    q_revenue_by_nation      521 ms -> 144 ms
    q_customer_order_counts  813 ms -> 194 ms
    q_incremental_dedup      601 ms -> 449 ms  (LSH pipeline py4j ops)
    q_lm_quality             295 ms -> 206 ms
    q1_pricing_summary (ctl) 213 ms ->  99 ms

Two pins hold the regression closed:

1. STRUCTURAL (deterministic): a repeat plan construction spawns ZERO
   Spark jobs — planning is scan-free once the session memos (table
   DataFrames, plan memo) are warm. A reintroduced per-call probe,
   stats collection, or sidecar scan fails this immediately.
2. BUDGET (wall-clock, generous): min-of-5 repeat construction stays
   under per-query bounds ~3x the post-fix medians — loose enough for
   co-tenant noise (the round-12 host swung 2.2x on the Python-worker
   path, but plan construction is driver-side py4j, far steadier),
   tight enough that the un-memoized code (0.5-0.9 s) fails.
"""

from __future__ import annotations

import time

import pytest

from custom_python_etl_data_connector_shivaask_username_spark import registry

#: (query, wall-budget seconds) — budgets ~3x the measured post-fix
#: medians; the pre-fix tree exceeded every one of them
PLANNER_ROUTED = [
    ("q_revenue_by_nation", 0.55),
    ("q_customer_order_counts", 0.70),
    # round 15 (VERDICT r14 ask #6): repeat constructions with
    # unchanged conf state serve from the plan memo in ~0,
    # so the budget tightens 1.40 -> 0.80 (memo-miss territory fails)
    ("q_incremental_dedup", 0.80),
    ("q_lm_quality", 0.70),
]


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def _last_job_id(spark) -> int:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(0.2)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


@pytest.mark.parametrize("name,budget", PLANNER_ROUTED)
def test_repeat_plan_construction_scan_free_and_bounded(
    spark, sf_dir, name, budget
):
    fn = registry.QUERIES[name]
    fn(spark, sf_dir)  # first call: session memos warm up
    before = _last_job_id(spark)
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        fn(spark, sf_dir)  # construction only — never executed
        runs.append(time.perf_counter() - t0)
    after = _last_job_id(spark)
    assert after == before, (
        f"{name}: repeat plan construction spawned {after - before} "
        "Spark job(s) — planning must be scan-free once session memos "
        "are warm"
    )
    assert min(runs) <= budget, (
        f"{name}: plan construction min-of-5 {min(runs):.3f}s exceeds "
        f"the {budget}s budget (pre-memoization regression territory)"
    )


def _memo_core(spark, sf_dir, name):
    from custom_python_etl_data_connector_shivaask_username_spark import tables

    ent = tables._PLAN_MEMO.get(spark, {}).get((sf_dir, name))
    return None if ent is None else ent[1]


def test_plan_memo_serves_same_plan_and_tracks_state(spark, sf_dir):
    """Round 15 (VERDICT r14 ask #6): with unchanged conf
    state a repeat construction serves the IDENTICAL memoized logical
    plan — but wrapped in a FRESH Dataset per call (see
    ``memoized_plan``'s measurement-integrity note: handing out the
    same Dataset object would let re-collects skip materialized
    shuffle stages). A planning-conf change misses the version compare
    and re-constructs — with byte-equal answers."""
    from custom_python_etl_data_connector_shivaask_username_spark import tables

    name = "q_revenue_by_nation"
    fn = registry.QUERIES[name]
    tables.invalidate_table_cache(sf_dir)

    a = fn(spark, sf_dir)
    core_a = _memo_core(spark, sf_dir, name)
    b = fn(spark, sf_dir)
    assert _memo_core(spark, sf_dir, name) is core_a, (
        "unchanged state must serve the memoized plan"
    )
    assert b is not a, (
        "every serve must be a fresh execution wrapper — the stored "
        "Dataset itself would re-collect with skipped stages"
    )
    rows_a = sorted(map(str, a.collect()))
    # a planning-conf change moves the state version
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(tables.bytes_conf(spark, key, 0) + 1))
    try:
        fn(spark, sf_dir)
        core_c = _memo_core(spark, sf_dir, name)
        assert core_c is not core_a, "a conf change must re-construct"
        c = fn(spark, sf_dir)
        assert _memo_core(spark, sf_dir, name) is core_c, (
            "stable state memoizes again"
        )
        assert sorted(map(str, c.collect())) == rows_a, (
            "state-driven re-planning must be answer-preserving"
        )
    finally:
        spark.conf.set(key, prev)
    # invalidation drops the memo with the rest of the session state
    tables.invalidate_table_cache(sf_dir)
    fn(spark, sf_dir)
    assert _memo_core(spark, sf_dir, name) is not core_c


def _stages_since(spark, mark: int) -> tuple[int, int, int]:
    """One walk of the status store's stage list: ``(max stage id,
    shuffle-write bytes, scan-input bytes)``, the byte totals over
    stages with id > ``mark``. Shuffle write is the one metric
    stage-skipping zeroes out; input bytes are the re-execution signal
    for map-only plans, which have no shuffle write to observe."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(0.3)
    sc = spark.sparkContext
    gw = sc._gateway
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    top, write, read, it = -1, 0, 0, seq.iterator()
    while it.hasNext():
        s = it.next()
        top = max(top, s.stageId())
        if s.stageId() > mark:
            write += s.shuffleWriteBytes()
            read += s.inputBytes()
    return top, write, read


#: every plan_memo=True registry row (round 16, VERDICT r15 ask #5)
#: and how its re-execution shows: "shuffle" queries must write
#: shuffle bytes on every run; "map" queries have no exchange, so their
#: signal is scan input. The result-caching ban must be pinned on each
#: memoized query, not just the one that caught the round-15 bug — all
#: share tables.memoized_plan today, but the pin is the contract that
#: keeps a future per-query special case from regressing into result
#: caching
MEMOIZED_QUERIES = {
    "q_revenue_by_nation": "shuffle",
    "q_customer_order_counts": "shuffle",
    "q_lm_quality": "shuffle",
    "q_incremental_dedup": "shuffle",
    "q_dedup_exact_documents": "shuffle",
    "q_curation_mix": "shuffle",
    "q_pack_sequences": "shuffle",
    # round 16: benched standalone (rides the q_lsh_suite registry row)
    "q_near_dup_pairs_minhash": "shuffle",
    # round 16: job-free 0.5-0.7 s pure-map construction, new bench row
    "q_doc_profile": "map",
}


def _resolve_query(name):
    """Registry row, or a standalone-benched module query (the bench's
    own _resolve contract for consolidated registry slots)."""
    if name in registry.QUERIES:
        return registry.QUERIES[name]
    from custom_python_etl_data_connector_shivaask_username_spark.operators import (
        llm_dedup,
    )

    return getattr(llm_dedup, name)


@pytest.mark.parametrize("name", list(MEMOIZED_QUERIES))
def test_memoized_serve_reexecutes(spark, sf_dir, name):
    """Measurement-integrity pin (round 15; parameterized over every
    plan_memo=True query in round 16): a memo-served query must
    RE-EXECUTE from the parquet inputs — map stages re-run and WRITE
    shuffle bytes. Re-collecting the stored Dataset object instead
    would reuse its materialized shuffle dependencies (Spark's
    skipped-stage mode): the second run would only READ old shuffle
    files, report ~0 shuffle write, and any timing of it would be
    result-cache gaming, not query speed.

    Zero-exchange ("map") queries (q_doc_profile's map-only pass) have
    no shuffle dependencies a stored Dataset could reuse, so their
    re-execution signal is input: the memo-served run must READ at
    least run 1's input bytes from the scan again."""
    fn = _resolve_query(name)
    first = fn(spark, sf_dir)
    mark0, _, _ = _stages_since(spark, -1)
    first.collect()  # materializes run 1's shuffles
    mark, base, base_in = _stages_since(spark, mark0)
    again = fn(spark, sf_dir)  # memo hit (state unchanged)
    again.collect()
    _, write, read = _stages_since(spark, mark)
    if MEMOIZED_QUERIES[name] == "shuffle":
        assert base > 0, (
            f"{name}: run 1 wrote no shuffle bytes — declared "
            "'shuffle', so the pin would observe nothing"
        )
        assert write > 0, (
            f"{name}: memo-served run wrote no shuffle bytes — it "
            "reused the prior run's materialized stages (result "
            "caching, not planning)"
        )
    else:
        assert base_in > 0, (
            f"{name}: run 1 read no input — the pin has nothing to "
            "observe; was the scan cached?"
        )
        assert read >= base_in, (
            f"{name}: memo-served run read less input than run 1 — "
            "the zero-exchange plan did not re-execute its scan"
        )


def test_load_table_memoized_and_invalidatable(spark, sf_dir):
    from custom_python_etl_data_connector_shivaask_username_spark import tables

    a = tables.load_table(spark, sf_dir, "nation")
    b = tables.load_table(spark, sf_dir, "nation")
    assert a is b  # memo hit: the identical immutable plan object
    tables.invalidate_table_cache(sf_dir)
    c = tables.load_table(spark, sf_dir, "nation")
    assert c is not a  # invalidation drops exactly this dir's entries
    assert [r["n_name"] for r in c.orderBy("n_nationkey").collect()] == [
        r["n_name"] for r in a.orderBy("n_nationkey").collect()
    ]
