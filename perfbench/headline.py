"""The headline analytics workload: 20 registry queries, seed-shuffled.

One op constructs, plans, executes and collects one query. A *unit* of
the measuring loop is one full pass over the 20 queries, in an order
shuffled from the seed each pass, so every run measures whole passes.

Each result's digest must match ``headline_refs.json``; see ``refs.py``.
"""

from __future__ import annotations

import json
import os
import random

from digest import rows_digest

HERE = os.path.dirname(os.path.abspath(__file__))
REFS_FILE = os.path.join(HERE, "headline_refs.json")
#: a byte-identical copy of the repository's sf0.01 test fixture
SF_DIR = os.path.join(HERE, "data", "sf0.01")

#: the 20 rows of the repository's headline bench
HEADLINE = [
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
    "q_incremental_dedup",
    "q_pack_sequences",
    "q_lm_quality",
    "q_doc_profile",
]


def resolve(name: str):
    """The query function: ``registry.QUERIES``, else the operator module
    that defines it (``q_near_dup_pairs_minhash`` is benched standalone
    although its registry row was merged into ``q_lsh_suite``)."""
    from custom_python_etl_data_connector_shivaask_username_spark import registry
    from custom_python_etl_data_connector_shivaask_username_spark.operators import llm_dedup

    if name in registry.QUERIES:
        return registry.QUERIES[name]
    return getattr(llm_dedup, name)


class Headline:
    sink_dir = None
    gen = None

    def __init__(self, spark, seed: int):
        from custom_python_etl_data_connector_shivaask_username_spark import registry

        self.spark = spark
        self._rng = random.Random(seed)
        registry.load_all()
        with open(REFS_FILE) as fh:
            self.refs = json.load(fh)["queries"]
        self.fns = {n: resolve(n) for n in HEADLINE}

    def setup(self, run_op) -> None:
        """One unmeasured pass, so JIT, codegen and file caches are warm."""
        for item in self.unit():
            run_op(item)

    def unit(self) -> list[str]:
        order = list(HEADLINE)
        self._rng.shuffle(order)
        return order

    def run(self, name: str, tracer):
        fn = self.fns[name]
        if tracer is None:
            df = fn(self.spark, SF_DIR)
            return df.columns, df.collect(), df
        with tracer.span("construct"):
            df = fn(self.spark, SF_DIR)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("action"):
            rows = df.collect()
        return df.columns, rows, df

    def check(self, name: str, out) -> bool:
        columns, rows, _ = out
        ref = self.refs[name]
        got = rows_digest(columns, rows)
        return got["rows"] == ref["rows"] and got["hash"] == ref["hash"]

    def records(self, name: str, out) -> int:
        return 1

    def result_rows(self, out) -> int:
        return len(out[1])

    def close(self) -> None:
        pass
