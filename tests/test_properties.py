"""Property-based spot checks (SURVEY.md §5.2 item 5): algebraic
invariants over hypothesis-generated micro-frames.

These pin engine-level laws the differential oracle can't see (it only
compares one fixed dataset): filter-pushdown equivalence, union
cardinality, dedup idempotence, jaccard bounds, chunker coverage.
Frames are kept tiny (≤ 24 rows) so each property runs in a few Spark
jobs; ``deadline=None`` because JVM round-trips dwarf hypothesis's
default budget.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
    char_ngrams,
    jaccard,
)
from custom_python_etl_data_connector_shivaask_username_spark.functions.text import (
    chunk_text,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.floats(
            min_value=-1000, max_value=1000, allow_nan=False, width=32
        ),
    ),
    min_size=1,
    max_size=24,
)


@given(rows=rows_strategy, threshold=st.integers(min_value=-5, max_value=5))
@_settings
def test_filter_commutes_with_projection(spark, rows, threshold):
    """filter(p) . select == select . filter(p) — the law predicate
    pushdown relies on."""
    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows], "k INT, v DOUBLE"
    )
    a = df.filter(F.col("k") > threshold).select("k").collect()
    b = df.select("k", "v").filter(F.col("k") > threshold).select("k").collect()
    assert sorted(r["k"] for r in a) == sorted(r["k"] for r in b)


@given(rows=rows_strategy)
@_settings
def test_union_counts_add(spark, rows):
    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows], "k INT, v DOUBLE"
    )
    assert df.unionByName(df).count() == 2 * df.count()


@given(rows=rows_strategy)
@_settings
def test_distinct_is_idempotent(spark, rows):
    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows], "k INT, v DOUBLE"
    )
    once = df.distinct()
    assert once.count() == once.distinct().count()
    assert once.count() <= df.count()


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=1, max_size=40
        ),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_jaccard_bounds_and_identity(spark, texts):
    """0 ≤ J ≤ 1 always; J(x, x) == 1."""
    df = spark.createDataFrame(
        [Row(i=i, t=t) for i, t in enumerate(texts)]
    ).withColumn("g", char_ngrams(F.col("t"), 2))
    pairs = (
        df.alias("a")
        .crossJoin(df.alias("b"))
        .select(
            F.col("a.i").alias("ia"),
            F.col("b.i").alias("ib"),
            jaccard(F.col("a.g"), F.col("b.g")).alias("j"),
        )
        .collect()
    )
    for r in pairs:
        assert 0.0 <= r["j"] <= 1.0
        if r["ia"] == r["ib"]:
            assert r["j"] == 1.0


@given(
    n_words=st.integers(min_value=1, max_value=80),
    chunk=st.integers(min_value=2, max_value=20),
)
@_settings
def test_chunker_covers_every_word(spark, n_words, chunk):
    """With stride < chunk (overlap), every word appears in some chunk
    and chunk word-counts never exceed the chunk size."""
    stride = max(1, chunk - 1)
    words = [f"w{i}" for i in range(n_words)]
    df = spark.createDataFrame([Row(t=" ".join(words))]).select(
        chunk_text(F.col("t"), chunk, stride).alias("chunks")
    )
    chunks = df.collect()[0]["chunks"]
    seen = set(" ".join(chunks).split())
    assert seen == set(words)
    assert all(len(c.split()) <= chunk for c in chunks)


@given(
    tokens=st.lists(
        st.integers(min_value=1, max_value=400), min_size=1, max_size=20
    ),
    budget_lo=st.integers(min_value=100, max_value=500),
    extra=st.integers(min_value=1, max_value=500),
)
@_settings
def test_token_budget_selection_is_monotone(spark, tokens, budget_lo, extra):
    """A larger budget never deselects a doc chosen under a smaller one
    (prefix-closed selection), and selected token mass never exceeds
    the budget."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [Row(doc_id=i, tokens=t) for i, t in enumerate(tokens)]
    )
    w = (
        Window.orderBy(F.col("tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("cum", F.sum("tokens").over(w))

    def select(budget):
        picked = cum.filter(F.col("cum") <= budget)
        rows = picked.collect()
        return {r["doc_id"] for r in rows}, sum(r["tokens"] for r in rows)

    small_ids, small_mass = select(budget_lo)
    big_ids, big_mass = select(budget_lo + extra)
    assert small_ids <= big_ids
    assert small_mass <= budget_lo
    assert big_mass <= budget_lo + extra


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
    seq_len=st.integers(min_value=5, max_value=40),
)
@_settings
def test_pack_sequences_conservation_laws(spark, tokens, seq_len):
    """Packing invariants over arbitrary token lists: offsets in
    [0, seq_len); consecutive docs abut exactly (next start = prev start
    + prev tokens, bin-and-offset arithmetic agreeing); total bins =
    ceil(total_tokens / seq_len)."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_curation import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, tokens=t) for i, t in enumerate(tokens)]
    )
    out = sorted(
        (
            (r["doc_id"], r["start_bin"], r["end_bin"], r["start_offset"])
            for r in pack_sequences(df, seq_len=seq_len, num_partitions=3).collect()
        )
    )
    total = sum(tokens)
    # global position reconstruction: start = bin * L + offset
    starts = [b * seq_len + off for _, b, _, off in out]
    expected_starts = [sum(tokens[:i]) for i in range(len(tokens))]
    assert starts == expected_starts
    for (_, sb, eb, off), t in zip(out, tokens):
        assert 0 <= off < seq_len
        assert eb == (sb * seq_len + off + t - 1) // seq_len
    n_bins = max(eb for _, _, eb, _ in out) + 1
    assert n_bins == (total + seq_len - 1) // seq_len


@given(
    corpus_texts=st.lists(
        st.text(alphabet="abcd ", min_size=8, max_size=30), min_size=1, max_size=6
    ),
    dup_idx=st.integers(min_value=0, max_value=5),
)
@_settings
def test_incremental_dedup_exact_law(spark, corpus_texts, dup_idx):
    """Law: a new doc whose text verbatim-equals ANY corpus doc is
    exact_dup_corpus; a new doc with fresh text never is."""
    from custom_python_etl_data_connector_shivaask_username_spark.operators.llm_dedup import (
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus_texts)]
    )
    dup_text = corpus_texts[dup_idx % len(corpus_texts)]
    fresh_text = "zzzz qqqq wwww xxyy zz"  # alphabet disjoint from corpus
    increment = spark.createDataFrame(
        [Row(doc_id=100, text=dup_text), Row(doc_id=101, text=fresh_text)]
    )
    got = {
        r["doc_id"]: r["disposition"]
        for r in incremental_dedup(corpus, increment).collect()
    }
    assert got[100] == "exact_dup_corpus"
    assert got[101] == "kept"


@_settings
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # day
            st.integers(min_value=0, max_value=23),  # hour
            st.sampled_from(["view", "click"]),
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=24,
    ),
    split=st.lists(st.integers(min_value=0, max_value=2), min_size=24, max_size=24),
)
def test_rollup_merge_law_any_batch_split(spark, tmp_path_factory, vals, split):
    """X22 algebra law: for ANY partition of the event set into (up to
    3) refresh batches, in ANY order, the merged read equals the
    one-shot rollup of all events — partials are commutative/
    associative and exact, so the store cannot remember HOW history
    arrived."""
    import datetime as dtm

    from custom_python_etl_data_connector_shivaask_username_spark.operators.rollup import (
        _finalize,
        _merge_partials,
        read_rollup,
        refresh_rollup,
        rollup_partials,
    )

    store = str(tmp_path_factory.mktemp("rollup_prop") / "store")
    rows = [
        (i, dtm.datetime(2024, 4, 1 + d, h), f"u{i % 2}", t, v)
        for i, (d, h, t, v) in enumerate(vals)
    ]
    schema = (
        "event_id long, ts timestamp, user_id string, "
        "event_type string, value double"
    )
    ev = spark.createDataFrame(rows, schema)
    batches = [
        [r for i, r in enumerate(rows) if split[i % len(split)] == b]
        for b in range(3)
    ]
    for bid, batch_rows in enumerate(batches):
        if batch_rows:
            refresh_rollup(
                spark.createDataFrame(batch_rows, schema), store, bid
            )
    got = sorted(map(tuple, read_rollup(spark, store).collect()))
    direct = sorted(
        map(
            tuple,
            _finalize(
                _merge_partials(rollup_partials(ev), F.col("bucket_start"))
            ).collect(),
        )
    )
    assert got == direct
