"""Pins for functions/bloom.py and its probe_minhash_index wiring.

The load-bearing property is NO FALSE NEGATIVES: a pruned join must
return exactly the pairs the unpruned join returns. False positives
are a measured cost, not a correctness question.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.functions.bloom import (
    BLOOM_HASHES,
    bloom_prune,
    build_bloom,
    might_contain_keys,
)


def test_bloom_no_false_negatives_and_low_fp(spark):
    build = spark.range(0, 500).select(
        (F.col("id") * 7).alias("a"), (F.col("id") % 13).alias("b")
    )
    bf = build_bloom(build, ["a", "b"])
    assert bf.n_keys == 500
    assert bf.m >= 500 * 16 and bf.k == BLOOM_HASHES

    # every build key tests positive
    verdicts = might_contain_keys(bf, build).collect()
    assert all(r["might_contain"] for r in verdicts)

    # disjoint keys: FP rate well under a few percent at 16 bits/key
    probe = spark.range(10_000, 30_000).select(
        (F.col("id") * 7).alias("a"), (F.col("id") % 13 + 100).alias("b")
    )
    fp = sum(
        1
        for r in might_contain_keys(bf, probe).collect()
        if r["might_contain"]
    )
    total = probe.distinct().count()
    assert fp / total < 0.02, (fp, total)


def test_bloom_build_is_deterministic(spark):
    build = spark.range(0, 300).select(
        F.col("id").alias("a"), (F.col("id") % 5).alias("b")
    )
    bf1 = build_bloom(build, ["a", "b"])
    bf2 = build_bloom(build.repartition(7), ["a", "b"])
    assert bf1 == bf2  # same words/layout under any partitioning


def test_bloom_prune_keeps_matching_rows_exactly(spark):
    """Pruning a probe side by a build side's filter retains EVERY row
    whose key exists on the build side (the no-false-negative contract
    stated at the dataframe level)."""
    build = spark.createDataFrame(
        [Row(k=i) for i in range(0, 100, 2)]  # even keys
    )
    probe = spark.createDataFrame(
        [Row(k=i, v=f"row{i}") for i in range(100)]
    )
    bf = build_bloom(build, ["k"])
    kept = {r["k"] for r in bloom_prune(probe, bf).collect()}
    assert set(range(0, 100, 2)) <= kept  # all true matches survive


def test_probe_minhash_index_bloom_equivalence_and_pruning(spark):
    """probe_minhash_index with the Bloom prefilter returns the exact
    pair set of the unfiltered probe, while the index rows surviving
    the filter are a small fraction of the full index."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    # corpus: many distinct docs -> many distinct index buckets
    corpus = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=(
                    f"corpus document number {i} with its own unique "
                    f"phrasing about topic {i % 37} and detail {i * 3}"
                ),
            )
            for i in range(200)
        ]
    )
    increment = spark.createDataFrame(
        [
            Row(
                doc_id=1000,
                text=(
                    "corpus document number 17 with its own unique "
                    "phrasing about topic 17 and detail 51"
                ),
            ),
            Row(doc_id=1001, text="fresh unrelated content never seen"),
        ]
    )
    index = build_minhash_index(corpus)

    with_bloom = {
        (r["inc_id"], r["cor_id"], r["jaccard_sim"])
        for r in probe_minhash_index(
            index, corpus, increment, threshold=0.5, bloom_prefilter=True
        ).collect()
    }
    without = {
        (r["inc_id"], r["cor_id"], r["jaccard_sim"])
        for r in probe_minhash_index(
            index, corpus, increment, threshold=0.5, bloom_prefilter=False
        ).collect()
    }
    assert with_bloom == without
    assert (1000, 17) in {(a, b) for a, b, _ in with_bloom}

    # pruning actually bites: surviving index rows << full index
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        band_triples,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.functions.bloom import (
        bloom_prune as _prune,
        build_bloom as _build,
    )

    inc_triples = band_triples(increment).select("band_id", "bucket")
    bf = _build(inc_triples, ["band_id", "bucket"])
    full = index.count()
    survived = _prune(index, bf).count()
    assert survived < full * 0.25, (survived, full)


def test_plan_size_bytes_falls_back_only_on_jvm_errors(spark, jvm_error):
    """A JVM failure to estimate reads as "size unknown"; a Python-side
    error raises instead of silently switching the dispatch."""
    from custom_python_etl_data_connector_shivaask_username_spark.functions.bloom import (
        plan_size_bytes,
    )

    class Frame:
        def __init__(self, exc):
            self.exc = exc

        @property
        def _jdf(self):
            raise self.exc

    assert plan_size_bytes(Frame(jvm_error)) is None
    with pytest.raises(AttributeError, match="estimate bug"):
        plan_size_bytes(Frame(AttributeError("estimate bug")))


def test_should_bloom_prefilter_dispatches_on_broadcastability(spark, sf_dir):
    """Round 9 (the round-8 advisory): the prefilter defaults to an
    adaptive dispatch — OFF when the build side fits the broadcast
    threshold (the join already drops huge-side rows map-side in the
    BHJ; the filter's build jobs were measured pure overhead at every
    broadcast-regime scale), ON when the build side must shuffle (or
    broadcast is disabled), which is the regime the filter exists
    for. Metadata-only: no job may run to decide."""
    from custom_python_etl_data_connector_shivaask_username_spark.functions.bloom import (
        plan_size_bytes,
        should_bloom_prefilter,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    keys = load_table(spark, sf_dir, "documents").select("doc_id")
    size = plan_size_bytes(keys)
    assert size is not None and size > 0
    # fixture-scale build side under the default 10 MB budget -> OFF
    assert should_bloom_prefilter(keys) is False
    # build side exceeds a tiny explicit budget (huge side unknown,
    # resolves permissively) -> ON
    assert should_bloom_prefilter(keys, threshold=16) is True
    # broadcast disabled -> every join shuffles -> ON
    assert should_bloom_prefilter(keys, threshold=-1) is True
    # ...but a huge side too SMALL to repay the two build jobs keeps
    # the filter off even when the build side can't broadcast
    small_huge = load_table(spark, sf_dir, "documents")
    assert (
        should_bloom_prefilter(keys, huge_side=small_huge, threshold=16)
        is False
    )
    # huge-side bar lowered to zero -> ON again (the planted twin)
    assert (
        should_bloom_prefilter(
            keys, huge_side=small_huge, threshold=16, min_huge_bytes=0
        )
        is True
    )
    # both production call sites honor the dispatch: at fixture scale
    # (auto=OFF) each equals its forced-ON twin — already pinned by
    # the equivalence tests above/in test_llm_curation; here pin that
    # the AUTO default picks OFF without erroring end-to-end
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_curation import (
        contamination_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    bench = docs.limit(3)
    auto = contamination_pairs(docs, bench, n=8, threshold=0.3)
    forced = contamination_pairs(
        docs, bench, n=8, threshold=0.3, bloom_prefilter=True
    )
    key = lambda rows: sorted(
        (r["train_id"], r["bench_id"], r["containment"]) for r in rows
    )
    assert key(auto.collect()) == key(forced.collect())
