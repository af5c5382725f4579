"""Unit pins for dedup + similarity (planted duplicates, recall bounds)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
    dedupe_near,
    hamming,
    near_dup_pairs,
    simhash,
)
from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
    TOP_K,
    ann_topk,
)
from custom_python_etl_data_connector_shivaask_username_spark.registry import (
    QUERIES,
    load_all,
)

load_all()

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)


def _docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy")),  # near dup
        Row(doc_id=3, text=BASE.replace("afternoon sun", "morning rain")),
        Row(
            doc_id=4,
            text="completely different content about distributed query "
            "engines shuffling partitions across a large cluster of "
            "executors with adaptive optimization enabled",
        ),
    ]
    return spark.createDataFrame(rows)


def test_minhash_finds_planted_near_dups(spark):
    pairs = near_dup_pairs(_docs(spark), threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # exact dup always caught
    assert (0, 2) in found or (1, 2) in found  # near dup caught
    # the unrelated doc never pairs with anything
    assert all(4 not in p for p in found)


def test_exact_dup_has_jaccard_one(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in near_dup_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0


def test_dedupe_near_keeps_representative(spark):
    kept = sorted(
        r["doc_id"] for r in dedupe_near(_docs(spark), threshold=0.5).collect()
    )
    assert 0 in kept  # min id survives
    assert 1 not in kept  # exact dup dropped
    assert 4 in kept  # unrelated doc untouched


def test_minhash_forms_agree(spark, sf_dir):
    """The hot-path MinHash (the map-only single-traversal aggregate
    that `band_triples` runs) produces exactly the signatures of the
    array-HOF reference (same base hash, same seeded family, same
    minimum), on the synthetic docs AND on the fixture corpus. A doc
    with no shingles keeps the aggregate identity (all max-long) where
    the reference's empty `array_min` is NULL."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        NUM_HASHES,
        minhash_signature,
        minhash_signature_agg,
        word_shingles,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    def both(df):
        # shingles materialized once: the reference's k references to
        # the array would otherwise rebuild it k times per doc
        shingled = (
            df.filter(F.col("text").isNotNull())
            .select("doc_id", word_shingles(F.col("text")).alias("sh"))
            .localCheckpoint()
        )
        got = shingled.select(
            "doc_id",
            F.size("sh").alias("n"),
            minhash_signature(F.col("sh")).alias("hof"),
            minhash_signature_agg(F.col("sh")).alias("agg"),
        ).collect()
        assert got
        return got

    for r in both(_docs(spark)):
        assert list(r["agg"]) == list(r["hof"]), r["doc_id"]

    corpus = both(load_table(spark, sf_dir, "documents"))
    for r in corpus:
        if r["n"]:
            assert list(r["agg"]) == list(r["hof"]), r["doc_id"]
        else:
            assert list(r["agg"]) == [(1 << 63) - 1] * NUM_HASHES
    assert sum(1 for r in corpus if r["n"]) > 0.9 * len(corpus)


def test_simhash_hamming_orders_similarity(spark):
    df = _docs(spark).select(
        "doc_id", simhash(F.col("text")).alias("sh")
    )
    sh = {r["doc_id"]: r["sh"] for r in df.collect()}
    assert sh[0] == sh[1]  # identical text, identical fingerprint
    d_near = bin(sh[0] ^ sh[2]).count("1")
    d_far = bin(sh[0] ^ sh[4]).count("1")
    assert d_near < d_far


def test_hamming_column(spark):
    df = spark.createDataFrame([Row(a=0b1010, b=0b1001)])
    out = df.select(
        hamming(F.col("a").cast("long"), F.col("b").cast("long")).alias("d")
    )
    assert out.collect()[0]["d"] == 2


def test_ann_lsh_recall_on_planted_cluster(spark):
    # fixture embeddings are near-random (max cos ~0.33), where LSH cannot
    # beat chance by construction — so plant a tight cluster around the
    # query and require high recall there.
    import numpy as np

    rng = np.random.RandomState(7)
    q = rng.standard_normal(64)
    rows = [(0, (q / np.linalg.norm(q)).tolist(), 0)]
    for i in range(1, 21):  # 20 near-neighbors: q + small noise
        v = q + 0.15 * rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    for i in range(21, 300):  # background noise
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ann_topk_df,
    )

    got = ann_topk_df(emb, query_vec_id=0, k=10, probe_hamming=1).collect()
    hits = {r["vec_id"] for r in got}
    # true top-10 are all from the planted cluster (ids 1..20)
    recall = len([v for v in hits if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(hits))


def test_ann_batch_answers_multiple_queries_one_plan(spark):
    """Batched ANN: ≥3 query vectors through one bucket-keyed join, with
    the per-query recall pin holding for the planted cluster."""
    import numpy as np

    rng = np.random.RandomState(7)
    q = rng.standard_normal(64)
    rows = [(0, (q / np.linalg.norm(q)).tolist(), 0)]
    for i in range(1, 21):  # 20 near-neighbors of query 0
        v = q + 0.15 * rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    for i in range(21, 300):  # background noise (also queries 21, 22)
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ann_topk_batch,
    )

    got = ann_topk_batch(emb, [0, 21, 22], k=10, probe_hamming=1).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["q_id"], []).append(r["vec_id"])
    assert set(by_query) == {0, 21, 22}
    for q_id, hits in by_query.items():
        assert len(hits) <= 10
        assert q_id not in hits  # a query never matches itself
    recall = len([v for v in by_query[0] if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(by_query[0]))


def test_ann_candidates_are_reduced(spark, sf_dir):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        lsh_bucket,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket(F.col("embedding"))
    )
    total = emb.count()
    biggest = (
        emb.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest < total / 4  # buckets genuinely partition the space


def test_giant_bucket_emits_star_pairs(spark):
    """Template-spam guard: a bucket over MAX_BUCKET_PAIRS_SIZE yields
    (b-1) representative edges, not b(b-1)/2 pairs — and every member
    still links to the min-id survivor for greedy dedupe."""
    n = 80
    rows = [Row(doc_id=i, text=BASE) for i in range(n)]  # one spam cluster
    docs = spark.createDataFrame(rows)
    pairs = near_dup_pairs(docs, threshold=0.9).collect()
    assert len(pairs) == n - 1  # star around the representative
    assert all(r["id_a"] == 0 for r in pairs)  # min-id representative
    assert sorted(r["id_b"] for r in pairs) == list(range(1, n))
    # greedy dedupe keeps exactly the representative
    kept = sorted(r["doc_id"] for r in dedupe_near(docs, threshold=0.9).collect())
    assert kept == [0]


def test_ivf_kmeans_recovers_planted_blobs(spark):
    """Lloyd's DataFrame k-means separates 3 well-spaced gaussian blobs
    and is deterministic across runs (hash-seeded init, no rand())."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        _nearest_centroid,
        kmeans_centroids,
    )

    rng = np.random.RandomState(11)
    anchors = [rng.standard_normal(16) * 10 for _ in range(3)]
    rows = []
    for b, a in enumerate(anchors):
        for i in range(40):
            v = a + rng.standard_normal(16) * 0.3
            rows.append((b * 100 + i, v.tolist(), b))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    c1 = kmeans_centroids(emb, n_clusters=3, iters=4)
    c2 = kmeans_centroids(emb, n_clusters=3, iters=4)
    assert c1 == c2  # rerun-deterministic

    assigned = emb.select(
        "label", _nearest_centroid(F.col("embedding"), c1).alias("cid")
    ).collect()
    # every blob maps to exactly one cell and cells don't merge blobs
    by_label = {}
    for r in assigned:
        by_label.setdefault(r["label"], set()).add(r["cid"])
    assert all(len(cells) == 1 for cells in by_label.values())
    assert len({next(iter(c)) for c in by_label.values()}) == 3


def test_ivf_topk_recall_on_planted_cluster(spark):
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivf_topk_batch,
    )

    rng = np.random.RandomState(7)
    q = rng.standard_normal(64)
    rows = [(0, (q / np.linalg.norm(q)).tolist(), 0)]
    for i in range(1, 21):
        v = q + 0.15 * rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    for i in range(21, 300):
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    got = ivf_topk_batch(emb, [0], k=10, n_clusters=8, n_probe=3).collect()
    hits = {r["vec_id"] for r in got}
    recall = len([v for v in hits if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(hits))


def test_connected_components_path_and_isolate(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
         Row(id_a=7, id_b=9)],
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 7: 7, 9: 7}


def test_connected_components_fused_round_actions(spark):
    """Round-16 internals pin: each CC round must run as ONE action —
    the fixpoint count is a FULL count over a LAZY localCheckpoint, so
    the round's labels materialize inside the count's own job. The
    pre-fusion form (eager checkpoint job + limit(1) count job per
    round) measured a stable 40 driver jobs on this graph vs 35 fused;
    the bound splits them with margin for planner drift. If this trips
    after an intentional CC change, re-derive both counts the same way
    (the jobs of one job group) and move the bound WITH the
    delta preserved — the contract is one action per round, not the
    literal 35."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
         Row(id_a=7, id_b=9)],
    )
    connected_components(edges).collect()  # warm (JIT/broadcast reuse)
    sc = spark.sparkContext
    group = f"cc-rounds-{time.time_ns()}"
    sc.setJobGroup(group, "connected_components job-count pin")
    try:
        comp = {
            r["id"]: r["component"]
            for r in connected_components(edges).collect()
        }
    finally:  # clear what setJobGroup set, so later jobs run outside the group
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 7: 7, 9: 7}
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # every job start recorded
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 37, (
        f"connected_components ran {jobs} jobs on the 4-edge path graph "
        "(fused form: 35; two-actions-per-round form: 40) — a per-round "
        "action was reintroduced"
    )


def test_dedupe_near_cc_collapses_chains(spark):
    """A~B and B~C but not A~C: greedy and CC both keep A, but only CC
    guarantees it via the component, not via pair-direction luck; and a
    component's survivor is always its min id."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        dedupe_near_cc,
    )

    # chain: 0 ~ 1 (one word), 1 ~ 2 (two words off 0, one off 1)
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE.replace("lazy", "sleepy")),
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy").replace("cat", "bird")),
        Row(doc_id=4, text="completely different content about distributed "
            "query engines shuffling partitions across a large cluster"),
    ]
    docs = spark.createDataFrame(rows)
    kept = sorted(r["doc_id"] for r in dedupe_near_cc(docs, threshold=0.5).collect())
    assert kept == [0, 4]


def test_int8_quantization_roundtrip_and_cosine_error(spark):
    """Quantized cosine stays within 2% of exact on unit-ish vectors;
    per-element error is bounded by scale/254; zero vectors survive."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.functions.vector import (
        cosine,
        dequantize_int8,
        quantize_int8,
    )

    rng = np.random.RandomState(3)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(50)]
    rows.append((99, [0.0] * 64))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    out = emb.select(
        "vec_id",
        "embedding",
        dequantize_int8(quantize_int8(F.col("embedding"))).alias("deq"),
    ).collect()
    for r in out:
        orig = np.array(r["embedding"])
        deq = np.array(r["deq"])
        if r["vec_id"] == 99:
            assert (deq == 0).all()
            continue
        bound = abs(orig).max() / 127.0 / 2 + 1e-12
        assert (abs(orig - deq) <= bound + 1e-9).all()

    # cosine drift on quantized pairs stays small
    a = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("ea")
    )
    pairs = emb.filter(F.col("vec_id").between(1, 20)).crossJoin(a)
    drift = pairs.select(
        F.abs(
            cosine(F.col("embedding"), F.col("ea"))
            - cosine(
                dequantize_int8(quantize_int8(F.col("embedding"))),
                dequantize_int8(quantize_int8(F.col("ea"))),
            )
        ).alias("d")
    ).agg(F.max("d").alias("max_d")).collect()[0]["max_d"]
    assert drift < 0.02, drift


# --- X5/X6 driver-visible queries ------------------------------------------


def test_char3_edges_and_cc_collapse_planted_chain(spark):
    """The q_dedup_clusters path finds transitive clusters: A~B and B~C
    edges exist but A~C does not, yet all three land in one component
    labeled by the min id."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        char3_jaccard_edges,
        connected_components,
    )

    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE.replace("lazy", "sleepy")),
        Row(
            doc_id=2,
            text=BASE.replace("lazy", "sleepy").replace(
                "afternoon", "morning"
            ),
        ),
        Row(
            doc_id=9,
            text="completely unrelated text about parquet row groups and "
            "columnar compression codecs in distributed storage layers",
        ),
    ]
    docs = spark.createDataFrame(rows)
    edges = {
        (r["id_a"], r["id_b"]) for r in char3_jaccard_edges(docs).collect()
    }
    assert (0, 1) in edges and (1, 2) in edges
    assert not any(9 in e for e in edges)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            char3_jaccard_edges(docs)
        ).collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0
    assert 9 not in comp  # isolates never enter the edge graph


def test_q_dedup_clusters_invariants(spark, sf_dir):
    """Driver-query invariants on real data: component = min member id,
    cluster_size consistent with membership, ids unique."""
    out = QUERIES["q_dedup_clusters"](spark, sf_dir).collect()
    assert len({r["id"] for r in out}) == len(out)
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m["id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)
        assert len(members) >= 2  # only clustered docs are emitted


def test_q_ann_ivf_equals_exact_topk(spark, sf_dir):
    """Exhaustive probing (n_probe = n_clusters) makes IVF exact: the
    driver query's output must equal brute-force top-k regardless of
    centroid placement — the property that justifies its SQL oracle."""
    from custom_python_etl_data_connector_shivaask_username_spark.functions.vector import (
        cosine,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ANN_QUERY_IDS,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import (
        load_table,
    )

    got = [
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in QUERIES["q_ann_ivf"](spark, sf_dir).collect()
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    expected = []
    for qid in ANN_QUERY_IDS:
        qv = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q_emb")
        )
        top = (
            emb.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(qv))
            .select(
                "vec_id",
                F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                    "cos_sim"
                ),
            )
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
            .limit(TOP_K)
            .collect()
        )
        expected += [(qid, r["vec_id"], r["cos_sim"]) for r in top]
    assert sorted(got) == sorted(expected)


def test_kmeans_train_fraction_deterministic(spark):
    """Hash-sampled training is rerun-stable and still recovers planted
    blobs (the 100 TB path: bounded training scan, full-corpus assign)."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        _nearest_centroid,
        kmeans_centroids,
    )

    rng = np.random.RandomState(5)
    anchors = [rng.standard_normal(16) * 10 for _ in range(3)]
    rows = []
    for b, a in enumerate(anchors):
        for i in range(60):
            v = a + rng.standard_normal(16) * 0.3
            rows.append((b * 100 + i, v.tolist(), b))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    c1 = kmeans_centroids(emb, n_clusters=3, iters=3, train_fraction=0.5)
    c2 = kmeans_centroids(emb, n_clusters=3, iters=3, train_fraction=0.5)
    assert c1 == c2  # deterministic sample, deterministic centroids
    assigned = emb.select(
        "label", _nearest_centroid(F.col("embedding"), c1).alias("cid")
    ).collect()
    by_label = {}
    for r in assigned:
        by_label.setdefault(r["label"], set()).add(r["cid"])
    assert all(len(cells) == 1 for cells in by_label.values())
    assert len({next(iter(c)) for c in by_label.values()}) == 3


def test_q_lsh_suite_has_all_branches(spark, sf_dir):
    rows = QUERIES["q_lsh_suite"](spark, sf_dir).collect()
    branches = {r["branch"] for r in rows}
    # emb_dup may be empty at the production 0.95 threshold (the
    # fixture has no true near-dups); all other branches must emit
    # round 9: the former heavy/drift branches moved to the
    # oracle-backed q_partition_sorted_events monitor suite
    assert branches >= {
        "lsh_pair", "lsh_ann", "signature", "sketch", "pq",
        "bpe", "semdedup", "qclf", "rerank",
    }
    assert branches <= {
        "lsh_pair", "lsh_ann", "signature", "sketch", "emb_dup",
        "pq", "bpe", "semdedup", "qclf", "rerank",
    }
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    qclf = [r for r in rows if r["branch"] == "qclf"]
    # every corpus doc is scored, probabilities are valid, and the
    # bootstrap separates at least the seed-quality mass from junk
    assert len(qclf) == load_table(spark, sf_dir, "documents").count()
    assert all(0.0 <= r["score"] <= 1.0 for r in qclf)
    assert any(r["label"] == "true" for r in qclf)
    sem = [r for r in rows if r["branch"] == "semdedup"]
    kept = [r for r in sem if r["label"] == "kept_count"]
    assert len(kept) == 1
    # kept + dropped partitions the corpus exactly
    dropped = [r for r in sem if r["detail"] == "dropped@0.95"]
    total = load_table(spark, sf_dir, "embeddings").count()
    assert kept[0]["id_b"] + len(dropped) == total
    bpe = [r for r in rows if r["branch"] == "bpe"]
    assert bpe and all(
        r["label"] and "+" in r["label"] and r["score"] >= 2 for r in bpe
    )
    pq = [r for r in rows if r["branch"] == "pq"]
    assert len(pq) == 10 and all(r["score"] is not None for r in pq)
    sig_rows = [r for r in rows if r["branch"] == "signature"]
    assert all(r["detail"] and "|" in r["detail"] for r in sig_rows)
    sk = [r for r in rows if r["branch"] == "sketch"]
    assert {r["detail"] for r in sk} == {
        "approx_users", "p50_approx", "p95_approx", "p99_approx",
        "sampled_count", "sampled_value",
    }
    assert all(r["label"] is not None and r["score"] is not None
               for r in sk if r["detail"] != "sampled_value")


def test_embedding_near_dup_recall_and_precision_vs_brute_force(spark):
    """Banded sign-LSH near-dup pairs vs the brute-force cosine pair
    set on planted duplicate clusters: every reported pair is a true
    pair (precision 1.0 — candidates are exactly verified) and recall
    on the planted near-identical pairs is ≥ 0.9."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(11)
    rows = []
    planted = set()
    for c in range(10):  # 10 clusters of 3 near-identical vectors
        base = rng.standard_normal(64)
        ids = [c * 3, c * 3 + 1, c * 3 + 2]
        for i in ids:
            v = base + 0.02 * rng.standard_normal(64)
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
        planted |= {(a, b) for a in ids for b in ids if a < b}
    for i in range(100, 300):  # background noise, no near-dups
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.95).collect()
    }
    # brute-force truth
    vecs = {i: np.array(v) for i, v in rows}
    truth = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b
        and round(
            float(
                vecs[a] @ vecs[b]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            ),
            6,
        )
        >= 0.95
    }
    assert got <= truth  # exact verification: no false positives
    assert len(got & planted) / len(planted) >= 0.9, (
        len(got & planted),
        len(planted),
    )


def test_embedding_near_dup_giant_bucket_star_guard(spark):
    """200 identical vectors with a small max_bucket: the cell takes
    the star path (hub = min id), so pair count is linear in the cell,
    yet dedup connectivity survives — embedding_dedup keeps exactly
    one of the 200."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        embedding_dedup,
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    dup = rng.standard_normal(64)
    dup = (dup / np.linalg.norm(dup)).tolist()
    rows = [(i, dup) for i in range(200)]
    for i in range(200, 260):
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    pairs = embedding_near_dup_pairs(emb, max_bucket=50).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert all(a == 0 for a, _ in got)  # star pairs anchor at the hub
    assert len(got) == 199  # b-1 edges, not b(b-1)/2 = 19900

    kept = embedding_dedup(emb, max_bucket=50).select("vec_id").collect()
    kept_ids = {r["vec_id"] for r in kept}
    assert 0 in kept_ids  # min-id survivor of the dup cluster
    assert len(kept_ids & set(range(200))) == 1
    assert set(range(200, 260)) <= kept_ids  # noise untouched


def test_embedding_dedup_collapses_transitive_chain(spark):
    """A~B and B~C above threshold but A·C below: CC still collapses
    the chain to one survivor (min id)."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        embedding_dedup,
    )

    rng = np.random.RandomState(9)
    a = rng.standard_normal(64)
    a /= np.linalg.norm(a)
    # rotate progressively: cos(a,b) ≈ cos(b,c) ≈ 0.97, cos(a,c) ≈ 0.88
    perp = rng.standard_normal(64)
    perp -= (perp @ a) * a
    perp /= np.linalg.norm(perp)
    theta = np.arccos(0.97)
    b = np.cos(theta) * a + np.sin(theta) * perp
    c = np.cos(2 * theta) * a + np.sin(2 * theta) * perp
    rows = [
        (1, a.tolist()),
        (2, b.tolist()),
        (3, c.tolist()),
        (4, (rng.standard_normal(64) / 8).tolist()),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    kept = {
        r["vec_id"]
        for r in embedding_dedup(emb, threshold=0.95).collect()
    }
    assert kept == {1, 4}


def test_pair_join_big_block_guard(spark):
    """A label above max_block routes through LSH sub-blocking: planted
    identical vectors are still found (they co-bucket by construction)
    and the guard demonstrably prunes the candidate space."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        similar_pairs_within_label_df,
    )

    rng = np.random.RandomState(3)
    dup = rng.standard_normal(64)
    rows = []
    for i in range(400):  # one dominant label, mostly random vectors
        v = dup if i in (10, 250) else rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    rows.append((1000, (dup / np.linalg.norm(dup)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )

    guarded = similar_pairs_within_label_df(
        emb, threshold=0.9, max_block=100
    )
    found = {(r["vec_a"], r["vec_b"]) for r in guarded.collect()}
    assert (10, 250) in found  # identical vectors share every LSH bucket

    # the guard prunes: bucketed candidates ≪ exact all-pairs
    exact = similar_pairs_within_label_df(
        emb, threshold=-1.1, max_block=10**9
    )
    bucketed = similar_pairs_within_label_df(
        emb, threshold=-1.1, max_block=100
    )
    n_exact, n_bucketed = exact.count(), bucketed.count()
    assert n_exact == 400 * 399 / 2 + 0  # label-1 singleton adds none
    assert n_bucketed < n_exact / 10, (n_bucketed, n_exact)


def test_pair_join_guard_engages_exactly_at_boundary(spark):
    """Boundary semantics of the MAX_LABEL_BLOCK guard (round 7): a
    label of EXACTLY max_block rows stays on the exact all-pairs path
    (threshold=-1.1 must return every pair), while max_block+1 rows
    flips that label to LSH sub-blocking (strictly fewer candidate
    pairs) — and planted identical vectors survive the flip."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        similar_pairs_within_label_df,
    )

    cap = 50
    rng = np.random.RandomState(11)
    dup = rng.standard_normal(64)
    dup = (dup / np.linalg.norm(dup)).tolist()

    def label_rows(n, label, base):
        rows = []
        for i in range(n):
            v = rng.standard_normal(64)
            rows.append((base + i, (v / np.linalg.norm(v)).tolist(), label))
        # plant the dup pair on the first two ids
        rows[0] = (rows[0][0], dup, label)
        rows[1] = (rows[1][0], dup, label)
        return rows

    at_cap = spark.createDataFrame(
        label_rows(cap, 0, 0), "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    over_cap = spark.createDataFrame(
        label_rows(cap + 1, 0, 0),
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )

    # == cap: exact branch → all n·(n−1)/2 pairs at threshold −1.1
    n_at = similar_pairs_within_label_df(
        at_cap, threshold=-1.1, max_block=cap
    ).count()
    assert n_at == cap * (cap - 1) // 2

    # cap+1: sub-block branch → strictly fewer candidates than all-pairs
    n_over = similar_pairs_within_label_df(
        over_cap, threshold=-1.1, max_block=cap
    ).count()
    assert n_over < (cap + 1) * cap // 2, n_over

    # recall at the flip: the planted identical pair co-buckets
    found = {
        (r["vec_a"], r["vec_b"])
        for r in similar_pairs_within_label_df(
            over_cap, threshold=0.9, max_block=cap
        ).collect()
    }
    assert (0, 1) in found


# --- corpus-size-adaptive banding (emb_dup_config) -------------------------


def test_emb_dup_config_holds_occupancy_and_recall():
    """The adaptive layout keeps mean cell occupancy in
    (target/2, target] at every corpus size (candidate generation per
    vector therefore constant), while the analytic recall bound
    1-(1-p^bits)^bands stays >= the request. Same n -> same planes
    (seeded), so the layout is reproducible across machines."""
    import math

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        NEAR_DUP_COSINE,
        emb_dup_config,
    )

    p = 1.0 - math.acos(NEAR_DUP_COSINE) / math.pi
    for n in [100, 5_000, 80_000, 10**7, 10**10]:
        bands, bits, planes = emb_dup_config(n)
        occ = n / 2**bits
        assert occ <= 32, (n, occ)
        if n > 64:  # below that, bits floors at 1
            assert occ > 16, (n, occ)
        assert 1 - (1 - p**bits) ** bands >= 0.9, (n, bands, bits)
        assert len(planes) == bands * bits and len(planes[0]) == 64
    # deterministic: same n in, same planes out
    assert emb_dup_config(80_000)[2] == emb_dup_config(80_000)[2]


def test_embedding_near_dup_adaptive_config_recall(spark):
    """The planted-cluster pin holds under an emb_dup_config layout
    (coarser cells + re-solved band count at this n) — exact verify
    keeps precision 1.0, OR-amplification keeps recall."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        emb_dup_config,
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(11)
    rows = []
    planted = set()
    for c in range(10):
        base = rng.standard_normal(64)
        ids = [c * 3, c * 3 + 1, c * 3 + 2]
        for i in ids:
            v = base + 0.02 * rng.standard_normal(64)
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
        planted |= {(a, b) for a in ids for b in ids if a < b}
    for i in range(100, 300):
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    cfg = emb_dup_config(len(rows))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.95, config=cfg
        ).collect()
    }
    vecs = {i: np.array(v) for i, v in rows}
    truth = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b
        and round(
            float(
                vecs[a] @ vecs[b]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            ),
            6,
        )
        >= 0.95
    }
    assert got <= truth  # exact verification: no false positives
    assert len(got & planted) / len(planted) >= 0.9


def test_ann_lsh_config_holds_occupancy():
    """Adaptive ANN layout: occupancy n/2^bits stays <= target at every
    corpus size (floored at the pinned 8 bits, capped at 30), and the
    plane set is seeded-deterministic."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ann_lsh_config,
    )

    for n in [300, 10**5, 10**7, 10**10, 10**13]:
        planes = ann_lsh_config(n)
        bits = len(planes)
        assert 8 <= bits <= 30
        if bits < 30:
            assert n / 2**bits <= 64, (n, bits)
        assert len(planes[0]) == 64
    assert ann_lsh_config(10**7) == ann_lsh_config(10**7)


def test_ann_batch_adaptive_planes_recall_with_hamming2(spark):
    """A wide adaptive layout (bits for n=10^6) on the planted-cluster
    fixture: Hamming-2 probing holds recall >= 0.8 where radius 1
    would decay with the extra bits."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ann_lsh_config,
        ann_topk_batch,
    )

    rng = np.random.RandomState(7)
    q = rng.standard_normal(64)
    rows = [(0, (q / np.linalg.norm(q)).tolist(), 0)]
    for i in range(1, 21):
        v = q + 0.15 * rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    for i in range(21, 300):
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    planes = ann_lsh_config(10**6)  # 14 bits: 16k buckets
    assert len(planes) > 8
    got = ann_topk_batch(
        emb, [0], k=10, probe_hamming=2, planes=planes
    ).collect()
    hits = {r["vec_id"] for r in got}
    recall = len([v for v in hits if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(hits))


def test_incremental_dedup_planted_dispositions(spark):
    """Every disposition branch on planted data (the fixture has no
    exact duplicates, so the driver row only exercises near/kept):
    priority is exact_dup_corpus > exact_dup_batch > near_dup_corpus >
    kept, and a corpus-exact doc's batch twin is ALSO corpus-exact
    (priority, not the batch branch)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        incremental_dedup,
    )

    corpus_doc = "the quick brown fox jumps over the lazy dog again and again"
    near_doc = "the quick brown fox jumps over the lazy dog again and agaiM"
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text=corpus_doc),
            Row(doc_id=1, text="completely different corpus material here"),
        ]
    )
    increment = spark.createDataFrame(
        [
            Row(doc_id=100, text=corpus_doc),        # exact vs corpus
            Row(doc_id=101, text=corpus_doc),        # ALSO exact vs corpus
            Row(doc_id=102, text="batch twin xyzzy unique payload"),
            Row(doc_id=103, text="batch twin xyzzy unique payload"),
            Row(doc_id=104, text=near_doc),          # near (not exact) vs corpus
            Row(doc_id=105, text="nothing like anything else at all"),
        ]
    )
    got = {
        r["doc_id"]: r["disposition"]
        for r in incremental_dedup(corpus, increment).collect()
    }
    assert got == {
        100: "exact_dup_corpus",
        101: "exact_dup_corpus",  # priority over exact_dup_batch
        102: "kept",              # min-id survivor of the batch pair
        103: "exact_dup_batch",
        104: "near_dup_corpus",
        105: "kept",
    }


def test_incremental_dedup_never_pairs_corpus_with_itself(spark):
    """The operator's output is one row per INCREMENT doc — two corpus
    docs that are exact duplicates of each other must not appear (the
    corpus is settled; re-deduping it is the quadratic cost the
    incremental shape exists to avoid)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        incremental_dedup,
    )

    dup = "corpus internal duplicate text that repeats verbatim"
    corpus = spark.createDataFrame(
        [Row(doc_id=0, text=dup), Row(doc_id=1, text=dup)]
    )
    increment = spark.createDataFrame(
        [Row(doc_id=100, text="a brand new unrelated document")]
    )
    out = incremental_dedup(corpus, increment).collect()
    assert [(r["doc_id"], r["disposition"]) for r in out] == [(100, "kept")]


def test_minhash_index_probe_finds_cross_batch_near_dups(spark, tmp_path):
    """Production incremental near-dedup: the corpus's LSH index is
    written to parquet ONCE, a later batch probes it from disk — the
    planted near-dup of a corpus doc is found, corpus-corpus pairs are
    never emitted, and unrelated batch docs pass clean."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun beside the quiet river bank")
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base),  # internal corpus dup: must NOT pair
            Row(doc_id=2, text="entirely different corpus text about "
                               "spark shuffles and parquet footers"),
        ]
    )
    idx_path = str(tmp_path / "minhash_index")
    build_minhash_index(corpus).write.parquet(idx_path)  # stored once

    increment = spark.createDataFrame(
        [
            Row(doc_id=100, text=base.replace("naps", "sleeps")),  # near-dup
            Row(doc_id=101, text="fresh unrelated content about nothing "
                                 "previously ingested at all whatsoever"),
        ]
    )
    index = spark.read.parquet(idx_path)
    got = probe_minhash_index(index, corpus, increment, threshold=0.5).collect()
    pairs = {(r["inc_id"], r["cor_id"]) for r in got}
    assert (100, 0) in pairs and (100, 1) in pairs  # hits both copies
    assert all(p[0] >= 100 for p in pairs), "corpus-corpus pair leaked"
    assert not any(p[0] == 101 for p in pairs)
    for r in got:
        assert r["jaccard_sim"] >= 0.5


def test_minhash_index_probe_agrees_with_batch_near_dup_pairs(spark):
    """Index-probe results equal the full near_dup_pairs run restricted
    to (increment, corpus) pairs — the incremental path loses nothing."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        build_minhash_index,
        near_dup_pairs,
        probe_minhash_index,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "one two three four five six seven eight nine ten eleven",
        "unrelated words entirely here nothing shared with others",
    ]
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    increment = spark.createDataFrame(
        [
            Row(doc_id=100, text=texts[0].replace("kappa", "sigma")),
            Row(doc_id=101, text=texts[2]),
        ]
    )
    thr = 0.5
    via_index = {
        (r["inc_id"], r["cor_id"], r["jaccard_sim"])
        for r in probe_minhash_index(
            build_minhash_index(corpus), corpus, increment, threshold=thr
        ).collect()
    }
    both = corpus.unionByName(increment)
    via_batch = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]), r["jaccard_sim"])
        for r in near_dup_pairs(both, threshold=thr).collect()
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)  # cross pairs only
    }
    assert via_index == via_batch
    assert len(via_index) >= 2


def _blob_fixture(spark, n_noise=280, n_cluster=20, dim=64, seed=7):
    """Query vec 0 + a planted tight cluster (ids 1..n_cluster) + noise."""
    import numpy as np

    rng = np.random.RandomState(seed)
    q = rng.standard_normal(dim)
    rows = [(0, (q / np.linalg.norm(q)).tolist(), 0)]
    for i in range(1, n_cluster + 1):
        v = q + 0.15 * rng.standard_normal(dim)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    for i in range(n_cluster + 1, n_cluster + 1 + n_noise):
        v = rng.standard_normal(dim)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 1))
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )


def test_pq_codes_shape_and_determinism(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        PQ_K,
        PQ_M,
        pq_encode,
        pq_train,
    )

    emb = _blob_fixture(spark, n_noise=60, n_cluster=10)
    books = pq_train(emb, iters=2)
    assert len(books) == PQ_M and all(len(b) == PQ_K for b in books)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert a == b  # hash-seeded init + literal codebooks: rerun-stable
    for codes in a.values():
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_K for c in codes)


def test_pq_adc_recall_on_planted_cluster(spark):
    """ADC top-10 over 8x16 codes recovers >= 80% of the true top-10
    (the planted cluster) — compressed 32x, scanned without touching a
    single float vector."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _blob_fixture(spark)
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    db = emb.filter(F.col("vec_id") != 0)
    books = pq_train(db, iters=3)
    codes = pq_encode(db, books)
    got = {r["vec_id"] for r in pq_topk(codes, books, qvec, k=10).collect()}
    recall = len([v for v in got if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(got))


def test_pq_topk_plan_is_scan_plus_takeordered(spark):
    """The ADC search plan must look exactly like exact top-k: zero
    exchanges, TakeOrderedAndProject over a map-only projection."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
        count_exchanges,
        has_node,
    )

    emb = _blob_fixture(spark, n_noise=40, n_cluster=5)
    books = pq_train(emb, iters=1)
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    df = pq_topk(pq_encode(emb, books), books, qvec, k=5)
    assert has_node(df, "TakeOrderedAndProject")
    assert count_exchanges(df) == 0


def test_pq_train_rejects_empty_training_set(spark):
    """A sample that leaves no seed rows fails with a clear message,
    not an IndexError on the first seed."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        pq_train,
    )

    empty = _blob_fixture(spark, n_noise=40, n_cluster=5).limit(0)
    with pytest.raises(ValueError, match="no training rows"):
        pq_train(empty, iters=1)


def test_probe_minhash_index_giant_bucket_guard(spark):
    """Template-spam in the INDEX: 80 identical corpus docs collapse to
    their min-id representative at probe time — a near-dup batch doc
    still pairs (with the representative), but candidate fan-out per
    hit is O(1), not O(bucket)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    spam = ("identical template boilerplate that repeats verbatim in "
            "every copy of this viral document again and again forever")
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=spam) for i in range(80)]
    )
    increment = spark.createDataFrame(
        [Row(doc_id=500, text=spam.replace("forever", "always"))]
    )
    got = probe_minhash_index(
        build_minhash_index(corpus), corpus, increment, threshold=0.5
    ).collect()
    pairs = {(r["inc_id"], r["cor_id"]) for r in got}
    assert pairs == {(500, 0)}  # representative only, not 80 pairs


def test_ivfpq_recall_and_candidate_pruning(spark):
    """IVFADC end-to-end on planted blobs: probing 4/8 cells recovers
    >= 80% of the true top-10, and the candidate scan shrinks to the
    probed cells (the point of the coarse level)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        ivfpq_topk,
    )

    emb = _blob_fixture(spark)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    db = emb.filter(F.col("vec_id") != 0)
    coarse, books, codes_df = ivfpq_build(
        db, n_clusters=8, coarse_iters=3, pq_iters=2
    )
    got = {
        r["vec_id"]
        for r in ivfpq_topk(codes_df, coarse, books, qvec, k=10, n_probe=4).collect()
    }
    recall = len([v for v in got if 1 <= v <= 20]) / 10
    assert recall >= 0.8, (recall, sorted(got))
    # candidate pruning: probed cells hold well under the full corpus
    n_total = codes_df.count()
    probe_ids = sorted(
        (cid for cid, _ in coarse),
        key=lambda cid: -sum(
            a * b for a, b in zip(qvec, dict(coarse)[cid])
        ),
    )[:4]
    n_cand = codes_df.filter(F.col("cell").isin(probe_ids)).count()
    assert n_cand < n_total  # strictly prunes
    assert n_cand >= 10  # but keeps enough to answer top-10


def test_ivfpq_index_is_storable_and_cell_filter_pushes_down(spark, tmp_path):
    """The codes index round-trips through parquet and the probe's cell
    filter reaches the scan (PushedFilters: In(cell, ...)) — row-group
    pruning when the index is written cell-sorted."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        ivfpq_topk,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
        pushed_filters,
    )

    emb = _blob_fixture(spark, n_noise=80, n_cluster=10)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    coarse, books, codes_df = ivfpq_build(
        emb, n_clusters=4, coarse_iters=1, pq_iters=1
    )
    path = str(tmp_path / "ivfpq_index")
    codes_df.repartitionByRange(2, "cell").sortWithinPartitions("cell").write.parquet(path)
    stored = spark.read.parquet(path)
    df = ivfpq_topk(stored, coarse, books, qvec, k=5, n_probe=2)
    pushed = " ".join(pushed_filters(df))
    assert "cell" in pushed, pushed
    assert len(df.collect()) == 5


def test_char3_df_cap_bounds_hot_gram_blowup_and_preserves_edges(spark):
    """Round-6 scale guard: a corpus-wide boilerplate substring makes its
    grams 'hot' (df = all docs). Uncapped, the inverted-index self-join
    fans each hot gram out to ~docs²/2 rows; with the DF cap those grams
    leave candidate generation but still count EXACTLY toward every
    emitted edge via the per-doc hot-gram arrays — so the edge set is
    identical, and here that equivalence is only achievable through the
    compensation (the boilerplate is most of each doc's gram set, so an
    uncompensated drop would push every planted pair below threshold)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        char3_jaccard_edges,
        char_ngrams,
    )

    boiler = "the quick brown fox jumps over the lazy dog again "
    import hashlib

    rows = []
    for i in range(60):
        # cores are per-i hex digests (wide gram alphabet), so docs from
        # DIFFERENT pairs sit far under the 0.7 bar (measured max cross
        # J = 0.38, planted J = 0.985; digit-only cores collided so hard
        # that cross pairs became genuine edges); docs within a pair
        # share the whole core. Compensation is load-bearing here: the
        # planted pairs' cold-only intersection fails the threshold
        # (670 < 959 on this corpus), so an uncompensated DF drop would
        # lose every planted edge.
        h1 = hashlib.md5(f"core{i}".encode()).hexdigest()
        h2 = hashlib.md5(f"more{i}".encode()).hexdigest()
        core = f"unique content block {h1} {h2} end"
        rows.append((i, boiler + core))
        rows.append((1000 + i, boiler + core + " x"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    tau = 40  # 120 docs share every boilerplate gram -> df 120 > tau
    grams = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(char_ngrams(F.col("text"), 3)).alias("gram"),
    )
    dfc = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    hot = dfc.filter(F.col("df") > tau)
    assert hot.count() > 30  # the planted boilerplate really is hot

    def join_rows(g):
        a = g.select(F.col("id").alias("id_a"), "gram")
        b = g.select(F.col("id").alias("id_b"), "gram")
        return a.join(b, "gram").filter(F.col("id_a") < F.col("id_b")).count()

    uncapped_rows = join_rows(grams)
    capped_rows = join_rows(
        grams.join(F.broadcast(hot.select("gram")), "gram", "left_anti")
    )
    # the bound that matters at 100x: candidate-join input collapses
    # once hot grams leave (here >20x; at corpus scale the gap is docs/τ)
    assert capped_rows * 20 < uncapped_rows

    capped = {
        (r["id_a"], r["id_b"])
        for r in char3_jaccard_edges(docs, max_gram_df=tau).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in char3_jaccard_edges(docs, max_gram_df=10**9).collect()
    }
    assert capped == uncapped
    planted = {(i, 1000 + i) for i in range(60)}
    assert planted <= capped


def test_ivfpq_lifecycle_delete_ingest_compact_rebuild_equivalence(
    spark, tmp_path
):
    """Round-6 lifecycle: build → incremental ingest → delete → compact
    must land the index in EXACTLY the state a fresh encode of the
    surviving corpus produces under the same frozen quantizers — and
    the compacted store keeps the cell-filter pushdown the probe's
    row-group pruning depends on."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        ivfpq_compact,
        ivfpq_delete,
        ivfpq_encode,
        ivfpq_topk,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.plans.inspect import (
        pushed_filters,
    )

    emb = _blob_fixture(spark, n_noise=120, n_cluster=15)
    base = emb.filter(F.col("vec_id") <= 100)
    batch = emb.filter(F.col("vec_id") > 100)
    coarse, books, codes_df = ivfpq_build(
        base, n_clusters=4, coarse_iters=2, pq_iters=1
    )
    path = str(tmp_path / "ivfpq_index")
    codes_df.repartitionByRange(2, "cell").sortWithinPartitions(
        "cell"
    ).write.parquet(path)

    # incremental ingest (append degrades layout) + deletes, one compact
    new_codes = ivfpq_encode(batch, coarse, books)
    delete_ids = [1, 2, 3, 50]
    compacted = ivfpq_compact(
        spark,
        path,
        delete_ids=delete_ids,
        ingest_codes=new_codes,
        num_files=2,
    )

    survivors = emb.filter(~F.col("vec_id").isin(delete_ids))
    fresh = ivfpq_encode(survivors, coarse, books)
    to_set = lambda df: {
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    }
    assert to_set(compacted) == to_set(fresh)

    # deleted ids can never be answered; pushdown survives the compact
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    res = ivfpq_topk(compacted, coarse, books, qvec, k=10, n_probe=4)
    got = {r["vec_id"] for r in res.collect()}
    assert not (got & set(delete_ids))
    assert "cell" in " ".join(pushed_filters(res))
    # delete alone is a lazy view and already excludes the ids
    only_del = ivfpq_delete(spark.read.parquet(path), [4, 5])
    assert not (
        {r["vec_id"] for r in only_del.collect()} & {4, 5}
    )


def test_ivfpq_drift_trigger_and_retrain(spark):
    """The drift statistic must stay flat on same-distribution batches
    (no retrain) and trip on a shifted distribution (retrain), and the
    retrained quantizers must actually fit the drifted data better."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        ivfpq_drift_retrain,
        ivfpq_reconstruction_mse,
    )

    emb = _blob_fixture(spark, n_noise=150, n_cluster=15)
    coarse, books, _ = ivfpq_build(
        emb, n_clusters=4, coarse_iters=2, pq_iters=1
    )
    baseline = ivfpq_reconstruction_mse(emb, coarse, books)
    assert baseline > 0

    # same distribution: a disjoint-id copy of the corpus' own vectors
    same = emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    c2, b2, codes2, retrained, mse_same = ivfpq_drift_retrain(
        same, emb, coarse, books, baseline, drift_factor=1.5,
        coarse_iters=2, pq_iters=1,
    )
    assert not retrained and codes2 is None
    assert (c2, b2) == (coarse, books)
    assert mse_same <= 1.5 * baseline

    # drifted: large constant offset pushes vectors off every centroid
    drifted = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(3.0))
    ).withColumn("vec_id", F.col("vec_id") + 20_000)
    c3, b3, codes3, retrained3, mse_drift = ivfpq_drift_retrain(
        drifted, drifted, coarse, books, baseline, drift_factor=1.5,
        coarse_iters=2, pq_iters=1,
    )
    assert retrained3 and codes3 is not None
    assert mse_drift > 1.5 * baseline
    refit = ivfpq_reconstruction_mse(drifted, c3, b3)
    assert refit < mse_drift


# --- X24 SemDeDup -----------------------------------------------------------


def _semdedup_fixture(spark):
    """Two tight duplicate groups in different regions of an 8-dim
    space + unique singletons; returns (df, expected_survivor_ids)."""
    import math

    def unit(vals):
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = []
    base_a = [1.0, 2.0, 0.5, -1.0, 0.0, 3.0, 1.5, -0.5]
    base_b = [-2.0, 0.5, 1.0, 2.5, -1.5, 0.0, 0.5, 2.0]
    for i in range(8):  # group A: ids 0..7, tiny deterministic jitter
        rows.append((i, unit([v + 0.001 * ((i * 7 + j) % 5) for j, v in enumerate(base_a)])))
    for i in range(8):  # group B: ids 100..107
        rows.append((100 + i, unit([v + 0.001 * ((i * 3 + j) % 7) for j, v in enumerate(base_b)])))
    for i in range(12):  # singletons: orthogonal-ish unique directions
        v = [0.0] * 8
        v[i % 8] = 1.0
        v[(i + 3) % 8] = -1.0 - 0.2 * i
        rows.append((200 + i, unit(v)))
    df = spark.createDataFrame(
        [(i, vec, 0) for i, vec in rows],
        "vec_id long, embedding array<float>, label int",
    )
    expected = {0, 100} | {200 + i for i in range(12)}
    return df, expected


def test_semantic_dedup_keeps_one_per_group(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        semantic_dedup,
    )

    df, expected = _semdedup_fixture(spark)
    kept = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.98, n_clusters=4).collect()
    }
    assert kept == expected  # min-id survivor per group, singletons intact


def test_semantic_dedup_single_cluster_equals_brute_force(spark):
    """With n_clusters=1 every pair is considered, so the result must
    equal a brute-force python union-find dedup at the same rounded
    threshold — the cluster routing may only LIMIT, never corrupt."""
    import math

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        semantic_dedup,
    )

    df, _ = _semdedup_fixture(spark)
    rows = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    parent = {i: i for i in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if cos(rows[a], rows[b]) >= 0.98:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    brute = {i for i in ids if find(i) == i}
    kept = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.98, n_clusters=1).collect()
    }
    assert kept == brute


def test_semantic_dedup_deterministic(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        semantic_dedup,
    )

    df, _ = _semdedup_fixture(spark)
    a = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.98, n_clusters=4).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df.repartition(5), threshold=0.98, n_clusters=4
        ).collect()
    )
    assert a == b


def test_label_block_sub_blocking_works_at_any_dimension(spark):
    """The big-block LSH sub-block must BUCKET, not no-op, when the
    embedding dimension differs from the pinned 64 (the 64-dim planes
    null-pad other widths and collapse everything into bucket 0 —
    round-6 review finding). 8-dim fixture, max_cell forced tiny:
    semantic dedup still keeps exactly one survivor per planted group
    (near-identical vectors co-bucket with probability 1), and the
    dim-matched planes spread DISTINCT vectors over >1 bucket."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        lsh_bucket,
        planes_for_dim,
        semantic_dedup,
    )

    df, expected = _semdedup_fixture(spark)
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, threshold=0.98, n_clusters=2, max_cell=4
        ).collect()
    }
    assert kept == expected
    buckets = {
        r["b"]
        for r in df.select(
            lsh_bucket(F.col("embedding"), planes_for_dim(8)).alias("b")
        ).collect()
    }
    assert len(buckets) > 1  # dim-matched planes genuinely partition
    assert None not in buckets


# --- X29: retrieve-k'-rerank-to-k ------------------------------------------


def test_rerank_recall_vs_exact_rises_with_kprime(spark):
    """X29 pin: reranking IVF-PQ retrievals with the exact cosine
    scorer recovers the exact brute-force top-10 — recall@10 is
    monotone in k' and hits 1.0 when k' spans the candidate pool the
    index can return (quantization error only reorders WITHIN the
    retrieved set; rerank removes exactly that error)."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        ivfpq_topk_rerank,
    )

    emb = _blob_fixture(spark)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    db = emb.filter(F.col("vec_id") != 0)
    # exact top-10 under cosine, computed independently in numpy
    rows = db.collect()
    q = np.asarray(qvec)
    qn = q / np.linalg.norm(q)
    sims = {
        r["vec_id"]: float(
            np.dot(r["embedding"], qn) / np.linalg.norm(r["embedding"])
        )
        for r in rows
    }
    exact10 = {
        v for v, _ in sorted(sims.items(), key=lambda t: (-t[1], t[0]))[:10]
    }
    coarse, books, codes_df = ivfpq_build(
        db, n_clusters=8, coarse_iters=3, pq_iters=2
    )

    def recall(k_prime):
        got = {
            r["vec_id"]
            for r in ivfpq_topk_rerank(
                codes_df, coarse, books, db, qvec,
                k=10, k_prime=k_prime, n_probe=8,
            ).collect()
        }
        return len(got & exact10) / 10

    r10, r50, r_all = recall(10), recall(50), recall(300)
    assert r10 <= r50 <= r_all, (r10, r50, r_all)
    assert r50 >= 0.8, r50
    # n_probe=8 probes every cell -> candidate pool is the full corpus;
    # rerank over all of it IS the exact answer
    assert r_all == 1.0, r_all


def test_rerank_scorer_pluggable_and_arrow_batched(spark):
    """The pairwise scorer is a drop-in callable applied to 2-D Arrow
    batches (cross-encoder plumbing): a negative-L2 scorer produces the
    L2 ranking, verified against numpy on the same candidate set."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        rerank_topk,
    )

    emb = _blob_fixture(spark, n_noise=40, n_cluster=10)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    cands = emb.filter(F.col("vec_id") != 0).select("vec_id").limit(30)

    def neg_l2(query, mat):
        assert mat.ndim == 2, "scorer must receive a whole Arrow batch"
        return -np.linalg.norm(mat - query, axis=1)

    got = [
        r["vec_id"]
        for r in rerank_topk(
            cands, emb, qvec, k=5, scorer=neg_l2
        ).collect()
    ]
    ids = {r["vec_id"] for r in cands.collect()}
    rows = [r for r in emb.collect() if r["vec_id"] in ids]
    q = np.asarray(qvec)
    want = [
        r["vec_id"]
        for r in sorted(
            rows,
            key=lambda r: (
                round(float(np.linalg.norm(np.asarray(r["embedding"]) - q)), 6),
                r["vec_id"],
            ),
        )
    ][:5]
    assert got == want


def test_rerank_rejects_unbounded_candidate_sets(spark):
    """Mis-use guard: a candidate frame past MAX_RERANK_CANDIDATES is a
    loud error, not a silent driver OOM — rerank is a candidate-set
    operator, the retrieve stage owns the LIMIT."""
    import pytest as _pytest

    from custom_python_etl_data_connector_shivaask_username_spark.operators import llm_similarity as sim

    emb = _blob_fixture(spark, n_noise=40, n_cluster=5)
    old = sim.MAX_RERANK_CANDIDATES
    sim.MAX_RERANK_CANDIDATES = 10
    try:
        with _pytest.raises(ValueError, match="candidate-set operator"):
            sim.rerank_topk(emb.select("vec_id"), emb, [0.0] * 64, k=5)
    finally:
        sim.MAX_RERANK_CANDIDATES = old


def test_pair_kernel_arrow_equals_hof(spark, sf_dir):
    """Round-11 verdict ask #1 pin (3-form style): the BLAS pair kernel
    (per-block normalized GEMM in applyInPandas) returns pair-for-pair
    IDENTICAL rows — ids AND 6dp cosines — to the HOF zip_with/aggregate
    fold form, on (a) the fixture corpus through the exact branch,
    (b) planted boundary pairs straddling the threshold, and (c) an
    over-cap label routed through the (label, bucket) sub-block branch.
    Membership is decided JVM-side on F.round in BOTH kernels, so the
    only possible divergence is a raw cosine within ~1e-15 of a decimal
    rounding boundary — this pin is the evidence the fixture has none."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        similar_pairs_within_label_df,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    def rows(df):
        return [tuple(r) for r in df.collect()]

    emb = load_table(spark, sf_dir, "embeddings")
    assert rows(similar_pairs_within_label_df(emb, kernel="arrow")) == rows(
        similar_pairs_within_label_df(emb, kernel="hof")
    )

    # planted boundary block: pairs engineered to land just below, just
    # above, and essentially at the 0.5 threshold (cos(a, b) controlled
    # via b = c*a + s*orth), plus a zero vector (NaN drops in both) and
    # a mixed-dimension row (NULL-pad drops in both)
    rng = np.random.RandomState(7)
    a = rng.standard_normal(64)
    a /= np.linalg.norm(a)
    o = rng.standard_normal(64)
    o -= (o @ a) * a
    o /= np.linalg.norm(o)
    planted = []
    for i, c in enumerate(
        [0.4999994, 0.4999996, 0.5, 0.5000004, 0.5000006, 0.9, -0.2]
    ):
        v = c * a + np.sqrt(max(0.0, 1 - c * c)) * o
        planted.append((100 + i, v.tolist(), 0))
    planted.append((900, a.tolist(), 0))
    planted.append((901, [0.0] * 64, 0))       # zero norm -> NaN -> drop
    planted.append((902, a[:32].tolist(), 0))  # mixed dim -> NULL -> drop
    pl = spark.createDataFrame(
        planted, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    got_a = rows(similar_pairs_within_label_df(pl, threshold=0.5, kernel="arrow"))
    got_h = rows(similar_pairs_within_label_df(pl, threshold=0.5, kernel="hof"))
    assert got_a == got_h
    # sanity: membership really straddles the threshold
    sims = {(x[1], x[2]): x[3] for x in got_a}
    assert (102, 900) in sims and (100, 900) not in sims
    assert all(v >= 0.5 for v in sims.values())
    assert not any(900 in (p[0], p[1]) and 901 in (p[0], p[1]) for p in sims)

    # sub-block branch: over-cap label forces (label, bucket) routing
    big = spark.createDataFrame(
        [
            (i, (rng.standard_normal(64)).tolist(), 0)
            for i in range(120)
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    assert rows(
        similar_pairs_within_label_df(big, threshold=-1.1, max_block=50, kernel="arrow")
    ) == rows(
        similar_pairs_within_label_df(big, threshold=-1.1, max_block=50, kernel="hof")
    )


def test_emb_dup_kernel_arrow_equals_hof(spark, sf_dir):
    """Round 11: embedding_near_dup_pairs' verify runs as the
    per-bucket GEMM kernel (dedup across bands AFTER the verify — the
    same pair set, since a pair's cosine is identical in every band
    that proposes it). Pinned pair-for-pair equal to the HOF
    candidate-join form on the fixture at the registry threshold AND
    through the giant-bucket star guard (in-kernel star mode around
    the global min-id hub, id-for-id the HOF star semantics)."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        embedding_near_dup_pairs,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    emb = load_table(spark, sf_dir, "embeddings")
    assert rows(
        embedding_near_dup_pairs(emb, threshold=0.3, kernel="arrow")
    ) == rows(embedding_near_dup_pairs(emb, threshold=0.3, kernel="hof"))

    # star regime: a tight cluster puts every band's bucket over the
    # cap; the kernel's star mode must match the HOF star exactly
    rng = np.random.RandomState(5)
    v = rng.standard_normal(64)
    v /= np.linalg.norm(v)
    big = spark.createDataFrame(
        [
            (i, (v + rng.standard_normal(64) * 1e-4).tolist(), 0)
            for i in range(300)
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    a = rows(
        embedding_near_dup_pairs(
            big, threshold=0.5, max_bucket=100, kernel="arrow"
        )
    )
    h = rows(
        embedding_near_dup_pairs(
            big, threshold=0.5, max_bucket=100, kernel="hof"
        )
    )
    assert a == h and len(a) == 299  # hub stars to every member


def test_pq_encode_arrow_nulls_k1_and_magnitude_parity(spark):
    """Round-11 review findings on the Arrow encoder: (1) a NULL
    embedding yields the SQL engine's exact rendering — an array of m
    NULL codes — instead of crashing the batch; (2) k=1 codebooks
    encode (no second place for the tie check to index); (3) the
    ambiguity guard is scaled to the score magnitude, so unnormalized
    large-magnitude vectors keep engine parity."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(3)
    rows = [(i, (rng.standard_normal(64) * 1000.0).tolist()) for i in range(80)]
    rows.append((900, None))  # NULL embedding
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = pq_train(emb.filter("embedding IS NOT NULL"), iters=1)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    s = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, books, engine="sql").collect()
    }
    assert a == s, [k for k in a if a[k] != s[k]][:3]
    assert a[900] is None

    # k=1: exactly one centroid per subspace
    books1 = [[book[0]] for book in books]
    a1 = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books1).collect()}
    s1 = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, books1, engine="sql").collect()
    }
    assert a1 == s1
    assert all(c == [0] * len(books1) for k, c in a1.items() if k != 900)


def test_pair_gemm_drops_null_bucket_rows_like_hof(spark, monkeypatch):
    """Round-12 advice pin: in the over-cap sub-block branch, groupBy
    RETAINS a NULL bucket key while the HOF form's bucket == bucket_b
    equality DROPS those rows — so the Arrow kernel used to pair two
    NULL-bucket near-duplicates the join form never saw. The shipped
    lsh_bucket never emits NULL (NULL dots take the otherwise-0 bit),
    so the divergence is planted by a NULL-on-dimension-mismatch
    bucketing — the shape the advice named. Pinned: both kernels drop
    NULL-bucket rows; kernel parity holds."""
    import numpy as np

    import custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity as S

    orig = S.lsh_bucket

    def null_on_mismatch(emb_col, planes=None):
        dim = len(planes[0]) if planes else S.LSH_DIM
        return F.when(F.size(emb_col) == dim, orig(emb_col, planes))

    monkeypatch.setattr(S, "lsh_bucket", null_on_mismatch)

    rng = np.random.RandomState(12)
    rows = []
    for i in range(30):  # over-cap label of ordinary 64-dim vectors
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), 0))
    w = rng.standard_normal(32)
    w = (w / np.linalg.norm(w)).tolist()
    rows.append((500, w, 0))  # identical 32-dim pair: cos = 1.0, but
    rows.append((501, w, 0))  # dim-mismatch -> NULL bucket -> dropped
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )

    def pairs(kernel):
        return sorted(
            tuple(r)
            for r in S.similar_pairs_within_label_df(
                emb, threshold=0.9, max_block=20, kernel=kernel
            ).collect()
        )

    arrow, hof = pairs("arrow"), pairs("hof")
    assert arrow == hof
    ids = {p[1] for p in arrow} | {p[2] for p in arrow}
    assert 500 not in ids and 501 not in ids


def test_emb_dup_gather_transport_equals_join_transport(spark):
    """Round 12: the Arrow verify's two TRANSPORTS — broadcast-gather
    (corpus matrix under ``gather_budget``, kernel ships id pairs
    only) vs candidate-join (the 100 TB shape, ``gather_budget=0``) —
    are pinned pair-for-pair equal, including the degenerate rows the
    join transport's masks define the contract for: a NULL embedding
    and a mixed-dimension vector drop their pairs in both, and both
    match the HOF baseline."""
    import numpy as np

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(12)
    base = rng.standard_normal(64)
    rows_data = []
    for i in range(120):
        # correlated cloud: plenty of pairs straddle a 0.3 threshold
        v = base * (i % 7) / 7.0 + rng.standard_normal(64)
        rows_data.append((i, v.tolist()))
    rows_data.append((500, None))  # NULL embedding: pairs must drop
    rows_data.append((501, rng.standard_normal(32).tolist()))  # mixed dim
    emb = spark.createDataFrame(
        rows_data, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    gather = rows(
        embedding_near_dup_pairs(emb, threshold=0.3, kernel="arrow")
    )
    join_t = rows(
        embedding_near_dup_pairs(
            emb, threshold=0.3, kernel="arrow", gather_budget=0
        )
    )
    hof = rows(embedding_near_dup_pairs(emb, threshold=0.3, kernel="hof"))
    assert gather == join_t == hof
    assert len(gather) > 0  # the pin bites: real pairs flowed through
    flat = {i for p in gather for i in p[:2]}
    assert 500 not in flat and 501 not in flat


def test_semantic_dedup_and_ivfpq_share_a_coarse_quantizer(spark, sf_dir):
    """Round 12 (suite-tail cut): ``semantic_dedup(centroids=...)`` and
    ``ivfpq_build(coarse=...)`` accept a precomputed L2 quantizer.
    Init determinism makes the contract checkable exactly: a quantizer
    trained OUTSIDE with the same parameters yields bit-identical
    results to each function training its own."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_similarity import (
        ivfpq_build,
        kmeans_centroids,
        semantic_dedup,
    )
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    emb = load_table(spark, sf_dir, "embeddings")
    shared = kmeans_centroids(emb, n_clusters=4, iters=2, metric="l2")

    own = semantic_dedup(emb, threshold=0.8, n_clusters=4, iters=2)
    via = semantic_dedup(emb, threshold=0.8, centroids=shared)
    assert rows(own) == rows(via)

    co_own, bk_own, codes_own = ivfpq_build(
        emb, n_clusters=4, coarse_iters=2, pq_iters=1
    )
    co_sh, bk_sh, codes_sh = ivfpq_build(emb, pq_iters=1, coarse=shared)
    assert co_sh == shared == co_own
    assert bk_sh == bk_own
    assert rows(codes_sh) == rows(codes_own)


# --- round 14: substring-level exact dedup (the repeated-span L-row) --------


def _span_docs(spark):
    """Planted span structure around a 16-token block A:
    doc 1: A + unique tail          (survivor: earliest doc, pos 1)
    doc 2: unique head + A          (cross-doc repeat: removed)
    doc 3: A + A                    (within-doc repeat at pos 17 removed;
                                     pos-1 copy also removed - doc 1 owns
                                     the global survivor)
    doc 4: too short to span        (zero rows -> zero stats)
    doc 5: all-unique tokens        (spans, none repeated)
    """
    from pyspark.sql import Row

    A = " ".join(f"block{i}" for i in range(16))
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=A + " " + " ".join(f"t1u{i}" for i in range(8))),
            Row(doc_id=2, text=" ".join(f"t2u{i}" for i in range(8)) + " " + A),
            Row(doc_id=3, text=A + " " + A),
            Row(doc_id=4, text="tiny doc below the window"),
            Row(doc_id=5, text=" ".join(f"t5u{i}" for i in range(24))),
        ]
    )


def test_span_dedup_planted_repeats(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_stats,
    )

    out = {
        r["doc_id"]: r
        for r in span_dedup_stats(_span_docs(spark)).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 4: too short for a single window
    assert tuple(out[4])[1:] == (0, 0, 0, 0.0)
    # doc 5: 24 tokens -> 9 spans, all unique
    assert tuple(out[5])[1:] == (9, 0, 0, 0.0)
    # doc 1 holds the GLOBAL survivor of A at pos 1: its A occurrence is
    # dup (A appears elsewhere) but never removed
    assert out[1]["n_spans"] == 9  # 24 tokens
    assert out[1]["dup_spans"] == 1
    assert out[1]["removed_spans"] == 0
    # doc 2 repeats A at its last window position: removed
    assert out[2]["dup_spans"] == 1
    assert out[2]["removed_spans"] == 1
    # doc 3 = A+A (32 tokens -> 17 spans): BOTH its full-A windows
    # (pos 1 and pos 17) are dups and both are removed (doc 1 owns the
    # survivor); the 15 bridging windows are unique to doc 3
    assert out[3]["n_spans"] == 17
    assert out[3]["dup_spans"] == 2
    assert out[3]["removed_spans"] == 2
    assert abs(out[3]["dup_frac"] - 2 / 17) < 1e-12


def test_span_dedup_survivor_is_global_min_doc_pos(spark):
    """Move the earliest occurrence: when doc 2 holds A at pos 1 and
    doc 3 at pos 5, doc 2's copy survives and doc 3's is removed."""
    from pyspark.sql import Row

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_stats,
    )

    A = " ".join(f"s{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            Row(doc_id=2, text=A),
            Row(doc_id=3, text="p0 p1 p2 p3 " + A),
        ]
    )
    out = {r["doc_id"]: r for r in span_dedup_stats(docs).collect()}
    assert out[2]["removed_spans"] == 0 and out[2]["dup_spans"] == 1
    assert out[3]["removed_spans"] == 1


def test_span_dedup_stride_thins_windows(spark):
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_stats,
    )
    import pytest as _pytest

    docs = _span_docs(spark)
    s1 = {r["doc_id"]: r for r in span_dedup_stats(docs, stride=1).collect()}
    s8 = {r["doc_id"]: r for r in span_dedup_stats(docs, stride=8).collect()}
    for d in s8:
        assert s8[d]["n_spans"] <= s1[d]["n_spans"]
    # doc 3 (A+A, 18 stride-1 windows): stride 8 samples pos 1, 9, 17 --
    # pos-1 A still collides with doc 1's pos-1 survivor
    assert s8[3]["n_spans"] == 3
    assert s8[3]["dup_spans"] >= 1
    with _pytest.raises(ValueError):
        span_dedup_stats(docs, stride=0)


def test_q_dedup_exact_documents_branches(spark, sf_dir):
    """The tagged union keeps the L1 rows bit-identical to the old
    single-branch query; the span and clean branches cover every doc."""
    from custom_python_etl_data_connector_shivaask_username_spark.registry import QUERIES
    from custom_python_etl_data_connector_shivaask_username_spark.tables import load_table

    out = QUERIES["q_dedup_exact_documents"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    doc_rows = out.filter("branch = 'doc'")
    span_rows = out.filter("branch = 'span'")
    clean_rows = out.filter("branch = 'clean'")
    legacy = sorted(
        (r["doc_id"], r["dupe_count"])
        for r in docs.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("c"))
        .withColumnRenamed("c", "dupe_count")
        .collect()
    )
    assert sorted(
        (r["doc_id"], r["dupe_count"]) for r in doc_rows.collect()
    ) == legacy
    assert span_rows.count() == n_docs
    # span accounting invariants: removed <= dup <= n, frac in [0, 1]
    bad = span_rows.filter(
        "removed_spans > dup_spans OR dup_spans > n_spans "
        "OR dup_frac < 0 OR dup_frac > 1"
    )
    assert bad.count() == 0
    # clean branch (round 15): every doc present, conservation law
    # kept + removed == n_tokens, md5 always materialized
    assert clean_rows.count() == n_docs
    assert (
        clean_rows.filter(
            "kept_tokens + removed_tokens != n_tokens "
            "OR clean_md5 IS NULL OR kept_tokens < 0"
        ).count()
        == 0
    )


# --- round 15: the L11 removal half (span_dedup_rewrite) --------------------


def test_span_rewrite_planted_boilerplate(spark):
    """The planted 16-token block A: the survivor doc keeps it intact,
    every other occurrence is cut wholesale, docs without repeats (or
    too short to span) pass through modulo whitespace normalization."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_rewrite,
    )

    out = {
        r["doc_id"]: r
        for r in span_dedup_rewrite(_span_docs(spark)).collect()
    }
    A = " ".join(f"block{i}" for i in range(16))
    # doc 1 owns the global survivor: untouched
    assert out[1]["removed_tokens"] == 0
    assert out[1]["clean_text"].startswith(A)
    assert out[1]["kept_tokens"] == out[1]["n_tokens"] == 24
    # doc 2 loses exactly the 16 boilerplate tokens, keeps its head
    assert out[2]["removed_tokens"] == 16
    assert out[2]["clean_text"] == " ".join(f"t2u{i}" for i in range(8))
    # doc 4 (too short to span) and doc 5 (unique) pass through
    assert out[4]["clean_text"] == "tiny doc below the window"
    assert out[5]["removed_tokens"] == 0
    # conservation law on every doc
    for r in out.values():
        assert r["kept_tokens"] + r["removed_tokens"] == r["n_tokens"]
        assert r["kept_tokens"] == len(
            [t for t in r["clean_text"].split(" ") if t]
        )


def test_span_rewrite_removal_wins_and_intervals_merge(spark):
    """Overlap policy pins: doc 3 = A+A where doc 1 owns A's survivor —
    both A occurrences are removed and their ADJACENT intervals
    [1,16]+[17,32] merge, so removed_tokens == 32 (no double count)
    and kept == 0 even though the 15 bridging windows are unique
    (removal wins over unique/surviving spans' tokens)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_rewrite,
    )

    out = {
        r["doc_id"]: r
        for r in span_dedup_rewrite(_span_docs(spark)).collect()
    }
    assert out[3]["n_tokens"] == 32
    assert out[3]["removed_tokens"] == 32
    assert out[3]["kept_tokens"] == 0
    assert out[3]["clean_text"] == ""


def test_span_rewrite_consistent_with_stats(spark):
    """Cross-operator law: a doc whose stats row says removed_spans==0
    is untouched by the rewrite; any doc with removed spans loses at
    least w tokens (a removed span covers w)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        SPAN_W,
        span_dedup_rewrite,
        span_dedup_stats,
    )

    docs = _span_docs(spark)
    stats = {r["doc_id"]: r for r in span_dedup_stats(docs).collect()}
    rw = {r["doc_id"]: r for r in span_dedup_rewrite(docs).collect()}
    for d in stats:
        if stats[d]["removed_spans"] == 0:
            assert rw[d]["removed_tokens"] == 0
        else:
            assert rw[d]["removed_tokens"] >= SPAN_W


def test_span_rewrite_stride_thins_removal(spark):
    """stride > 1 samples fewer windows, so removal recall can only
    drop; conservation still holds; stride 0 rejected."""
    import pytest as _pytest

    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        span_dedup_rewrite,
    )

    docs = _span_docs(spark)
    s1 = {r["doc_id"]: r for r in span_dedup_rewrite(docs).collect()}
    s8 = {
        r["doc_id"]: r
        for r in span_dedup_rewrite(docs, stride=8).collect()
    }
    for d in s8:
        assert s8[d]["removed_tokens"] <= s1[d]["removed_tokens"]
        assert s8[d]["kept_tokens"] + s8[d]["removed_tokens"] == s8[d][
            "n_tokens"
        ]
    with _pytest.raises(ValueError):
        span_dedup_rewrite(docs, stride=0)
