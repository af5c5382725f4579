"""Headline-query benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: one untimed warm run per query (JVM/codegen/parquet-footer
warmup), then best-of-5 timed runs, each executing the query to
completion (collect of the final result). Timings therefore measure
steady-state query execution, not first-touch JIT or co-tenant
scheduler noise (observed run-to-run variance on identical code is
~30% without the min; best-of-3 still let single-run outliers through,
hence 5).

Noise-floor canaries: THREE fixed reference kernels timed best-of-5
immediately before and after the query loop, emitted as ``noise_floor``
in the JSON. All are identical every round, so their wall-times move
ONLY with machine conditions — compare ``value / canary`` across rounds,
not raw totals:

- CPU kernel (round 8): a constant-size in-memory agg over
  ``spark.range`` — zero I/O, senses co-tenant CPU/scheduler pressure.
- IO kernel (round 10): a full multi-column scan+agg over a PINNED
  parquet fixture (``/root/testdata/sf0.1/lineitem.parquet``,
  independent of $SPARK_GRAFT_SF_DIR) — senses exactly the
  page-cache/disk co-tenancy the CPU kernel is blind to. Round 9's
  +15% on untouched code shipped with a flat CPU canary because the
  drift was IO-side; this kernel exists so that failure mode is
  visible in the bench record itself.
- Arrow-worker/shuffle kernel (round 13): a fixed hash shuffle into a
  grouped applyInPandas round-trip — the Python-worker + shuffle path
  the other two kernels never touch, which is where round 12's
  identical-code 2.2× swings lived while the CPU canary sat flat.

A/B attribution protocol (round 7, re-adopted round 10 as tooling):
whenever the headline total moves >10% round-over-round AND the canaries
cannot account for it, run ``python bench_ab.py <prev-ref>`` — it checks
the previous tree out into a temp worktree and ALTERNATES bench runs
between the two trees in the same session (A B A B ...), so both trees
see the same machine conditions; only then attribute the movement to
code. Never ship a >10% swing attributed by assertion.

Per-query execution evidence (round 10): shuffle read/write bytes,
spill, and input bytes per timed run, read from Spark's AppStatusStore
(the public monitoring store behind the UI) by diffing completed-stage
totals around each query's timed loop. 100x-design claims ride these
numbers, not just plan shape + wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from custom_python_etl_data_connector_shivaask_username_spark import registry
from custom_python_etl_data_connector_shivaask_username_spark.session import get_spark

#: representative slice of SURVEY.md §2: scan+agg, star join, window,
#: as-of, set op, dedup (exact + LSH), vector top-k, text analytics, ETL
HEADLINE: list[str] = [
    "q1_pricing_summary",
    "q_revenue_by_nation",
    "q_event_type_stats",
    "q_top3_orders_per_customer",
    "q_last_purchase_asof",
    "q_event_deltas",
    "q_setops_nations",
    "q_dedup_exact_documents",
    "q_near_dup_pairs_minhash",
    "q_topk_similar_embeddings",
    "q_embedding_centroids",
    "q_tfidf_top_terms",
    "q_chunk_documents",
    "q_etl_events_normalized",
    "q_ngram_overlap_pairs",
    "q_curation_mix",
    "q_incremental_dedup",  # round 5: batch-vs-corpus dedup decision
    "q_pack_sequences",  # round 6: prefix-sum sequence packing
    "q_lm_quality",  # round 6: corpus bigram-LM quality scoring
    # round 16 (VERDICT r15 ask #2) — ADDITION ONLY, no row removed or
    # renamed, so round-over-round comparison on the prior 19 stays
    # valid: the round-15 8.7x q_doc_profile win (staged shared arrays)
    # was invisible to PERF because the row wasn't benched.
    # q_rollup_incremental was considered and left out: its ~12 s
    # store-maintenance wall would dominate the 19-row ~17 s suite.
    "q_doc_profile",  # round 16: per-doc text-profile map pass
]


def _resolve(name):
    """Headline queries stay benchmarked round-over-round even when
    their registry slot is consolidated (q_near_dup_pairs_minhash now
    rides the merged q_lsh_suite registry row but benches standalone)."""
    if name in registry.QUERIES:
        return registry.QUERIES[name]
    from custom_python_etl_data_connector_shivaask_username_spark.operators import (
        llm_dedup,
        llm_similarity,
    )

    for mod in (llm_dedup, llm_similarity):
        if hasattr(mod, name):
            return getattr(mod, name)
    return None


def _canary(spark) -> float:
    """Fixed reference kernel: 48M-row modular-arithmetic agg across 32
    tasks — CPU-bound, zero I/O, identical every round. One warm run,
    then best-of-5 (same discipline as the queries)."""
    def kernel():
        [(s,)] = (
            spark.range(0, 48_000_000, 1, 32)
            .selectExpr("sum((id % 97) * 3) AS s")
            .collect()
        )
        assert s == 6911996745  # fixed kernel => fixed answer

    kernel()  # warm
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        kernel()
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 4)


def _py_canary(spark) -> float:
    """Arrow-worker + shuffle kernel (round 13, VERDICT r12 ask #2):
    a fixed 2M-row hash shuffle feeding a grouped applyInPandas
    round-trip — every row crosses the shuffle AND the Arrow
    python-worker boundary both ways. The CPU kernel sat flat at
    ~0.12 s through identical-code runs that differed 2.2×
    (SCALE.md round-12 attribution): the noise mode this host
    exhibits lives in the Python-worker/shuffle path, which neither
    the JVM-only CPU kernel nor the scan-shaped IO kernel touches.
    Identical every round; one warm run then best-of-5."""
    import pandas as pd

    def _agg(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"k": [int(pdf["k"].iloc[0])], "s": [int(pdf["id"].sum())]}
        )

    def kernel():
        [(s,)] = (
            spark.range(0, 2_000_000, 1, 32)
            .selectExpr("id", "id % 64 AS k")
            .groupBy("k")
            .applyInPandas(_agg, "k long, s long")
            .selectExpr("sum(s) AS s")
            .collect()
        )
        assert s == 1_999_999_000_000  # fixed kernel => fixed answer

    kernel()  # warm (worker pool spin-up + Arrow codegen)
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        kernel()
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 4)


#: pinned IO-canary fixture — the SAME path every round regardless of
#: the benched sf dir, so the kernel's work is constant round-over-round
IO_CANARY_PATH = "/root/testdata/sf0.1/lineitem.parquet"


def _io_canary(spark, fallback_dir: str) -> dict:
    """Fixed IO-bearing kernel (round 10): full scan + multi-column agg
    over a pinned parquet fixture. Unlike the CPU kernel this reads
    real bytes through the filesystem/page cache every run, so
    co-tenant disk pressure and cache eviction — invisible to the CPU
    canary, but exactly what a parquet-reading suite feels — move it.
    One warm run, then best-of-5, same discipline as the queries.
    When the pinned fixture is absent the kernel falls back to the
    benched sf dir, which silently breaks the constant-work property —
    the record carries an explicit ``pinned`` flag (and a stderr
    warning) so the divergence is loud, not an io_path easter egg
    (round-10 advisory)."""
    path = IO_CANARY_PATH
    pinned = os.path.exists(path)
    if not pinned:
        path = os.path.join(fallback_dir, "lineitem.parquet")
        print(
            f"WARNING: pinned IO-canary fixture {IO_CANARY_PATH} absent; "
            f"falling back to {path} — value_per_io_canary is NOT "
            "comparable across rounds for this run",
            file=sys.stderr,
        )

    def kernel():
        [(n, *_)] = (
            spark.read.parquet(path)
            .selectExpr(
                "count(*) AS n",
                "sum(l_orderkey) AS a",
                "sum(l_quantity) AS b",
                "sum(l_extendedprice) AS c",
                "sum(l_discount + l_tax) AS d",
                "sum(length(l_returnflag) + length(l_linestatus)) AS e",
                "count(distinct l_partkey) AS f",
                "count(l_shipdate) AS g",
            )
            .collect()
        )
        return n

    rows = kernel()  # warm
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        kernel()
        runs.append(time.perf_counter() - t0)
    return {
        "sec": round(min(runs), 4),
        "rows": rows,
        "path": path,
        "pinned": pinned,
    }


def _quiesce_listeners(spark) -> None:
    """Drain the async listener bus before reading the AppStatusStore:
    stage-completed events can still be in flight when collect()
    returns, which would smear the warm run's bytes into the timed
    window (or drop the last run's). Best-effort — the dev API has
    shifted signatures across versions; a 200 ms settle is the
    fallback."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.2)


def _stage_mark(spark) -> int:
    """Highest stage id the AppStatusStore has seen (−1 when none)."""
    _quiesce_listeners(spark)
    seq = _stage_list(spark)
    mark = -1
    it = seq.iterator()
    while it.hasNext():
        mark = max(mark, it.next().stageId())
    return mark


def _stage_list(spark):
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    # stageList(statuses=null, details=false, withSummaries=false,
    #           unsortedQuantiles=[], taskStatus=null) — Scala default
    # args don't exist as JVM overloads, so pass the full arity
    return store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)


def _exec_metrics_since(spark, mark: int, n_runs: int) -> dict:
    """Shuffle/spill/input bytes per timed run: sum completed-stage
    totals for every stage id > ``mark`` and divide by the run count.
    Id-diffing is immune to eviction of PRE-mark stages; stages inside
    the window could in principle be evicted on a query spawning more
    than spark.ui.retainedStages (1000) stages across 5 runs — no
    suite query comes within an order of magnitude of that, and the
    listener bus is drained before both reads so in-flight events
    cannot smear across the window."""
    _quiesce_listeners(spark)
    sums = {"shuffle_write": 0, "shuffle_read": 0, "spill_mem": 0,
            "spill_disk": 0, "input": 0}
    it = _stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() <= mark:
            continue
        sums["shuffle_write"] += s.shuffleWriteBytes()
        sums["shuffle_read"] += s.shuffleReadBytes()
        sums["spill_mem"] += s.memoryBytesSpilled()
        sums["spill_disk"] += s.diskBytesSpilled()
        sums["input"] += s.inputBytes()
    mb = 1024.0 * 1024.0
    return {
        f"{k}_mb": round(v / n_runs / mb, 3) for k, v in sums.items()
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    registry.load_all()
    spark = get_spark("etl-spark-bench")
    names = [n for n in HEADLINE if _resolve(n) is not None]
    # targeted A/B claims (bench_ab.py --queries) restrict the suite;
    # both trees under comparison must support this env (round 10+)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = {q.strip() for q in only.split(",") if q.strip()}
        names = [n for n in names if n in wanted]

    # canary-only mode (round 14, VERDICT r13 ask #6): measure the
    # three fixed kernels and exit — the low-contention gate
    # (bench_ab --gate / scale_lsh_gate.py) subprocesses this to
    # decide whether a timed run would be attributable before paying
    # for it. Same session shape as a real bench, so the values are
    # comparable to any round's noise_floor block.
    if os.environ.get("SPARK_GRAFT_CANARY_ONLY"):
        out = {
            "metric": "canaries",
            "cpu": _canary(spark),
            "io": _io_canary(spark, sf_dir)["sec"],
            "py": _py_canary(spark),
        }
        print(json.dumps(out))
        spark.stop()
        return

    canary_pre = _canary(spark)
    io_pre = _io_canary(spark, sf_dir)
    py_pre = _py_canary(spark)
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    execm: dict[str, dict] = {}
    for name in names:
        fn = _resolve(name)
        warm = fn(spark, sf_dir)
        warm.collect()  # warm (plan + codegen + IO cache)
        mark = _stage_mark(spark)
        runs: list[float] = []
        for _ in range(5):  # best-of-5: steady-state time, not scheduler noise
            t0 = time.perf_counter()
            n = len(fn(spark, sf_dir).collect())
            runs.append(round(time.perf_counter() - t0, 4))
            assert n >= 0
        timings[name] = min(runs)
        samples[name] = runs
        execm[name] = _exec_metrics_since(spark, mark, 5)
    canary_post = _canary(spark)
    io_post = _io_canary(spark, sf_dir)
    py_post = _py_canary(spark)
    total = round(sum(timings.values()), 4)
    # min, not mean: the pre canary runs on a cold JVM (C2 still
    # compiling scheduler paths) and reads ~2x high; min is the machine's
    # steady-state speed, same discipline as the per-query best-of-5
    canary = min(canary_pre, canary_post)
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # machine-drift canaries: identical kernels every round
        # (CPU-only + pinned-fixture IO); compare value_per_*
        # across rounds, not raw totals (see module docstring)
        "noise_floor": {
            "pre": canary_pre,
            "post": canary_post,
            "kernel": "range48M_mod97_sum_32tasks",
            "io_pre": io_pre["sec"],
            "io_post": io_post["sec"],
            "io_kernel": "pinned_lineitem_scan6agg",
            "io_rows": io_pre["rows"],
            "io_path": io_pre["path"],
            "io_pinned": io_pre["pinned"] and io_post["pinned"],
            "py_pre": py_pre,
            "py_post": py_post,
            "py_kernel": "range2M_mod64_applyInPandas_shuffle",
        },
        "value_per_canary": round(total / canary, 2),
        "value_per_io_canary": round(
            total / min(io_pre["sec"], io_post["sec"]), 2
        ),
        "value_per_py_canary": round(total / min(py_pre, py_post), 2),
        "sf": sf,
    }
    # full detail (all 5 per-query samples + the AppStatusStore
    # shuffle/spill/input map) goes to a repo-side file: the driver's
    # bench artifact keeps only the TAIL of stdout, and round 10's
    # record truncated mid-object once samples+exec rode the one JSON
    # line (round-10 verdict ask #7). The LAST stdout line is a compact
    # complete object — per-query bests, canaries, totals — that always
    # survives the tail capture.
    detail_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_file, "w") as fh:
        json.dump(
            {**record, "samples": samples, "exec": execm}, fh, indent=1
        )
    record["detail_file"] = os.path.basename(detail_file)
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
