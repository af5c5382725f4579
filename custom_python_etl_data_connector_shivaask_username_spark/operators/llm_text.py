"""Text-analysis queries over ``documents`` (SURVEY.md §2.11 L6-L9).

Component map:
- L6 term stats / TF-IDF → ``q_tfidf_top_terms`` (raw term frequencies
  are the `total_tf` column; the standalone TF query was subsumed).
- L8 quality scoring + token counting + L9 PII scrub →
  ``q_doc_profile`` (one per-doc pass: lengths, ratios, token counts,
  composite quality + keep flag, regex redaction).
- L7 chunker → ``q_chunk_documents``.
- L6 language-ID + fingerprints live in ``llm_dedup.q_doc_signatures``
  (per-doc signature table).

Term frequencies / TF-IDF shuffle once on the term; everything per-doc
is a pure map — the 100 TB cost model is 'one scan + one word-keyed
shuffle for the corpus stats'.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    TOKEN_RE,
    chunk_text,
    punct_ratio,
    scrub_pii,
    token_count,
    whitespace_tokens,
)
from ..registry import query
from ..tables import bytes_conf, load_table, spread_small_input
from .scalars import STRING_ORACLE_COLS, string_feature_cols

# --- TF-IDF (includes raw term frequencies) -----------------------------------

_TFIDF_ORACLE = """
WITH n AS (SELECT COUNT(*) AS total FROM documents),
tokens AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
),
tf AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS total_tf,
         COUNT(DISTINCT doc_id) AS df
  FROM tokens WHERE length(word) > 0 GROUP BY word
)
SELECT word, total_tf, df,
       ROUND(total_tf * LN(CAST((SELECT total FROM n) AS DOUBLE) / df), 6)
         AS tfidf
FROM tf
ORDER BY tfidf DESC, word
LIMIT 20
"""


@query("q_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: corpus term frequencies + TF-IDF — the doc count rides along
    as a broadcast scalar via a J9 cross join (dim(1) x anything is the
    only safe cartesian shape at scale), so the plan is one word-keyed
    shuffle regardless of corpus size."""
    # deliberately NOT spread: the word-keyed shuffle already
    # parallelizes the aggregation, and the explode itself is cheap —
    # an added round-robin exchange measured 0.62 s -> 1.07 s at sf0.1
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("total_tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )
    return (
        tf.crossJoin(F.broadcast(total))
        .select(
            "word",
            "total_tf",
            "df",
            F.round(
                F.col("total_tf")
                * F.log(F.col("total").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), F.col("word"))
        .limit(20)
    )


# --- per-doc profile: tokens + quality + keep flag + PII scrub -----------------

_DOC_PROFILE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, n_chars, lang, source,
         length(list_filter(string_split_regex(text, '\\s+'),
                            w -> length(w) > 0)) AS ws_tokens,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
           / greatest(length(text), 1)::DOUBLE AS p_ratio,
         list_aggregate(list_transform(
             list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0),
             w -> length(w)), 'sum')
           / greatest(length(list_filter(string_split_regex(text, '\\s+'),
             w -> length(w) > 0)), 1)::DOUBLE AS mwl
  FROM documents
),
scored AS (
  SELECT *,
    ROUND((least(length(text) / 200.0, 1.0)
           + 1.0 - least(p_ratio * 5.0, 1.0)
           + CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.4 END
          ) / 3.0, 6) AS quality
  FROM base
),
rep_wl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     w -> length(w) > 0) AS rwords,
         list_filter(string_split_regex(text, '\\n'),
                     l -> length(trim(l)) > 0) AS rlines
  FROM documents
),
rep_w AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(rwords) AS w FROM rep_wl)
  GROUP BY doc_id, w
),
rep_wstat AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS d_words, MAX(c) AS top_run
  FROM rep_w GROUP BY doc_id
),
rep_l AS (
  SELECT doc_id, line, length(line) AS chars, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(rlines) AS line FROM rep_wl)
  GROUP BY doc_id, line
),
rep_lstat AS (
  SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS d_lines,
         SUM(chars * c) AS total_line_chars,
         SUM(CASE WHEN c > 1 THEN chars * c ELSE 0 END) AS dup_line_chars
  FROM rep_l GROUP BY doc_id
),
rep_g AS (
  SELECT doc_id, gram, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, length(rwords) - 1),
                      i -> array_to_string(rwords[i:i+2], ' '))) AS gram
        FROM rep_wl WHERE length(rwords) >= 3)
  GROUP BY doc_id, gram
),
rep_gstat AS (
  SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS d_grams
  FROM rep_g GROUP BY doc_id
)
SELECT doc_id,
       length(text) AS text_len,
       ws_tokens,
       length(regexp_extract_all(text, '{TOKEN_RE}')) AS bpe_tokens,
       ROUND(p_ratio, 6) AS punct_ratio,
       ROUND(mwl, 6) AS mean_word_len,
       (length(text) >= 80 AND n_chars = length(text)) AS meta_consistent,
       quality,
       (quality >= 0.5) AS keep,
       regexp_replace(regexp_replace(
         'contact ' || lang || '.user@' || source || '.example.com or +1 '
           || CAST(1000000 + doc_id AS VARCHAR) || '999 re: '
           || substring(text, 1, 30),
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
         '\\+?\\d[\\d().\\s-]{{7,}}\\d', '[PHONE]', 'g') AS scrubbed,
{STRING_ORACLE_COLS},
       ROUND(CASE WHEN COALESCE(rep_lstat.n_lines, 0) = 0 THEN 0.0
             ELSE 1.0 - rep_lstat.d_lines / CAST(rep_lstat.n_lines AS DOUBLE)
             END, 6) AS dup_line_frac,
       ROUND(CASE WHEN COALESCE(rep_lstat.total_line_chars, 0) <= 0 THEN 0.0
             ELSE rep_lstat.dup_line_chars
                  / CAST(rep_lstat.total_line_chars AS DOUBLE)
             END, 6) AS dup_line_char_frac,
       ROUND(CASE WHEN COALESCE(rep_wstat.n_words, 0) = 0 THEN 0.0
             ELSE 1.0 - rep_wstat.d_words / CAST(rep_wstat.n_words AS DOUBLE)
             END, 6) AS dup_word_frac,
       ROUND(CASE WHEN COALESCE(rep_wstat.n_words, 0) < 3 THEN 0.0
             ELSE 1.0 - rep_gstat.d_grams / CAST(rep_gstat.n_grams AS DOUBLE)
             END, 6) AS dup_3gram_frac,
       ROUND(CASE WHEN COALESCE(rep_wstat.n_words, 0) <= 0 THEN 0.0
             ELSE rep_wstat.top_run / CAST(rep_wstat.n_words AS DOUBLE)
             END, 6) AS top_word_frac
FROM scored
LEFT JOIN rep_wstat USING (doc_id)
LEFT JOIN rep_lstat USING (doc_id)
LEFT JOIN rep_gstat USING (doc_id)
ORDER BY doc_id
"""


@query("q_doc_profile", oracle=_DOC_PROFILE_ORACLE, plan_memo=True)
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8+L9: the per-document profile every training-data pipeline
    computes in one map-only pass — token counts (whitespace + BPE-ish
    regex), quality metrics (length, punctuation ratio, mean word
    length, metadata consistency), the composite quality score with its
    keep/drop flag, and PII redaction (oracle-checked on synthesized
    PII, since the fixture corpus contains none). Also carries the
    §2.8 string + hash family (:func:`scalars.string_feature_cols` —
    folded here in round 6: same table, same per-row map-only shape,
    same ``doc_id`` key, frees a registry slot under the 50-row cap)
    and the Gopher repetition filters
    (:func:`repetition_metric_cols` — dup line/word/3-gram fractions,
    modal-word share; DuckDB twin rebuilds them set-wise via
    unnest+GROUP BY while Spark stays pure array algebra).
    Stays a zero-exchange map-only plan (asserted in test_plans) —
    never spread: a pure Project over the scan must not shuffle at any
    scale.

    Round 15 (guide §1.2 step 2 — per-task work): the round-6 form
    inlined every helper's expression tree into ONE Project, so the
    text was re-split 37 times per row and — worse — array-building
    subtrees referenced inside higher-order-function lambdas
    (``element_at(sort_array(lines), i)``) re-evaluated PER ELEMENT:
    codegen subexpression elimination does not reach into lambda
    bodies, making the line-dedup metric O(n² log n) string sorts per
    document. The pass now STAGES shared intermediates (token arrays,
    sorted arrays, 3-gram array, counters) as aliased columns across
    consecutive Projects; each is a non-cheap alias referenced more
    than once, which CollapseProject refuses to inline (SPARK-36718),
    so every array is computed once per row and lambda bodies read
    attributes. Same fused map-only WSCG stage, zero exchanges.
    Measured (noop sink, sf0.1, min-of-3): 11.9 → see
    OPTIMIZATION_r15.md; outputs bit-identical (oracle unchanged).

    Round 16: construction rides the plan memo — measured 0.52-0.67 s
    of pure expression building, ZERO Spark jobs across repeated
    constructions, no planner-state reads beyond load_table (the same
    ≥0.3 s job-free criterion as the other memoized rows); every
    serve is a fresh alias that re-executes fully, pinned by the
    parameterized test_memoized_serve_reexecutes."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit("contact "),
        F.col("lang"),
        F.lit(".user@"),
        F.col("source"),
        F.lit(".example.com or +1 "),
        (F.lit(1000000) + F.col("doc_id")).cast("string"),
        F.lit("999 re: "),
        F.substring("text", 1, 30),
    )
    # --- stage 0: the arrays every metric family shares -------------
    s0 = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        whitespace_tokens(F.col("text")).alias("_ws"),
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda w: F.length(w) > 0,
        ).alias("_wl"),
        F.filter(
            F.split(F.col("text"), "\n"),
            lambda l: F.length(F.trim(l)) > 0,
        ).alias("_lines"),
        punct_ratio(F.col("text")).alias("_pr"),
    )
    # --- stage 1: derived arrays / counters (each computed once) ----
    s1 = s0.select(
        "*",
        (
            F.aggregate(
                F.transform("_ws", F.length), F.lit(0), lambda a, x: a + x
            ).cast("double")
            / F.greatest(F.size("_ws"), F.lit(1))
        ).alias("_mwl"),
        F.sort_array("_wl").alias("_swl"),
        F.sort_array("_lines").alias("_slines"),
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("_wl") - 2, F.lit(1))
            ),
            lambda i: F.concat_ws(" ", F.slice("_wl", i, 3)),
        ).alias("_g3"),
        F.size("_wl").alias("_nw"),
        F.size("_lines").alias("_nl"),
        F.aggregate(
            "_lines", F.lit(0), lambda acc, l: acc + F.length(l)
        ).alias("_tlc"),
    )
    # --- stage 2: scalars that read the staged arrays ---------------
    quality = F.round(
        (
            F.least(F.length("text").cast("double") / 200.0, F.lit(1.0))
            + (1.0 - F.least(F.col("_pr") * 5.0, F.lit(1.0)))
            + F.when(
                (F.col("_mwl") >= 3.0) & (F.col("_mwl") <= 10.0), 1.0
            ).otherwise(0.4)
        )
        / 3.0,
        6,
    )
    dup_line_chars = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("_nl"), F.lit(1))),
            lambda i: F.when(
                (
                    (i > 1)
                    & (
                        F.element_at(F.col("_slines"), i)
                        == F.element_at(F.col("_slines"), i - 1)
                    )
                )
                | (
                    (i < F.col("_nl"))
                    & (
                        F.element_at(F.col("_slines"), i)
                        == F.element_at(F.col("_slines"), i + 1)
                    )
                ),
                F.length(F.element_at(F.col("_slines"), i)),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    top_run = F.aggregate(
        F.col("_swl"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    s2 = s1.select(
        "*",
        quality.alias("_q"),
        dup_line_chars.alias("_dlc"),
        top_run.alias("_trun"),
    )
    # --- final projection: the round-6 output, column for column ----
    return s2.select(
        "doc_id",
        F.length("text").alias("text_len"),
        F.size("_ws").alias("ws_tokens"),
        token_count(F.col("text")).alias("bpe_tokens"),
        F.round("_pr", 6).alias("punct_ratio"),
        F.round("_mwl", 6).alias("mean_word_len"),
        (
            (F.length("text") >= 80)
            & (F.col("n_chars") == F.length("text"))
        ).alias("meta_consistent"),
        F.col("_q").alias("quality"),
        (F.col("_q") >= 0.5).alias("keep"),
        scrub_pii(payload).alias("scrubbed"),
        *string_feature_cols(),
        F.round(
            F.when(F.col("_nl") <= 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct("_lines")) / F.col("_nl")
            ),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.when(F.col("_tlc") <= 0, F.lit(0.0)).otherwise(
                F.col("_dlc") / F.col("_tlc")
            ),
            6,
        ).alias("dup_line_char_frac"),
        F.round(
            F.when(F.col("_nw") <= 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct("_wl")) / F.col("_nw")
            ),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(F.col("_nw") < 3, F.lit(0.0)).otherwise(
                F.when(F.size("_g3") <= 0, F.lit(0.0)).otherwise(
                    1.0 - F.size(F.array_distinct("_g3")) / F.size("_g3")
                )
            ),
            6,
        ).alias("dup_3gram_frac"),
        F.round(
            F.when(F.col("_nw") <= 0, F.lit(0.0)).otherwise(
                F.col("_trun") / F.col("_nw")
            ),
            6,
        ).alias("top_word_frac"),
    )


# --- chunking ------------------------------------------------------------------

CHUNK_SIZE = 20
STRIDE = 15

_CHUNK_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)
           AS words
  FROM documents
),
c AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(floor((length(words) - 1) / {STRIDE}) AS BIGINT) + 1),
           i -> array_to_string(
                  words[(CAST(i AS INT) * {STRIDE} + 1)
                        :(CAST(i AS INT) * {STRIDE} + {CHUNK_SIZE})], ' '))
           AS chunks
  FROM w
)
SELECT doc_id,
       generate_subscripts(chunks, 1) - 1 AS chunk_id,
       unnest(chunks) AS chunk_text
FROM c
ORDER BY doc_id, chunk_id
"""


@query("q_chunk_documents", oracle=_CHUNK_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: overlapping word-window chunks, one row per chunk — pure array
    HOFs + posexplode, no UDTF needed (the UDTF variant exists for the
    §2.10 F5 surface; see streaming/udtf tests). Chunking fuses into
    the scan stage; spread for single-row-group inputs (no-op
    otherwise)."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                chunk_text(F.col("text"), CHUNK_SIZE, STRIDE)
            ).alias("chunk_id", "chunk_text"),
        )
    )


# --- X21: corpus n-gram LM quality scoring (CCNet-style) ----------------------

#: add-k smoothing constant — a power of two, so ``count + LM_ALPHA`` and
#: ``count + LM_ALPHA * V`` are exact in double and both engines compute
#: the identical probability ratio (the only transcendental step, LN, is
#: then quantized to integer micro-log-probs before the exact sum).
LM_ALPHA = 0.5

#: per-gram log-probs are quantized to ``floor(logp * LM_QUANT + 0.5)``
#: INTEGERS — pure binary double ops + an exact floor, identical in both
#: engines — then summed exactly. Decimal ROUND is deliberately absent:
#: Spark rounds the double's shortest decimal repr (BigDecimal HALF_UP)
#: while DuckDB rounds the binary value, and the two disagree when a
#: value lands exactly on a half boundary (the round-6 formulation
#: flipped doc 3831 at the sf1.0 sweep: avg -4.0103135 → -4.010314 vs
#: -4.010313). At 1e6 quantum a cross-engine LN ulp (~1e-15 rel) flips
#: a gram's integer only with ~1e-8 probability per distinct gram.
LM_QUANT = 1_000_000.0

#: keep docs whose mean bigram log-probability is above this — the
#: fixture corpus scores -3.6..-3.3 (measured at sf0.01 and sf0.001)
#: while planted token soup lands below -6 (see
#: tests/test_llm_text.py::test_lm_quality_separates_token_soup), so
#: -4.5 keeps every organic doc and drops adversarial outliers.
LM_KEEP_THRESHOLD = -4.5

_LM_QUALITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     w -> length(w) > 0) AS words
  FROM documents
),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(words) AS w FROM toks)
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(words)),
                i -> array_to_string(words[i:i+1], ' '))) AS gram
  FROM toks WHERE length(words) >= 2
),
model AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY gram
),
ctx AS (
  SELECT split_part(gram, ' ', 1) AS w1, SUM(c2) AS c1
  FROM model GROUP BY 1
),
scored AS (
  SELECT big.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(floor(
             LN((model.c2 + {LM_ALPHA})
                / (ctx.c1 + {LM_ALPHA} * (SELECT v FROM vocab)))
             * {LM_QUANT} + 0.5) AS BIGINT)) AS DOUBLE)
           / {LM_QUANT} / COUNT(*) AS s
  FROM big
  JOIN model USING (gram)
  JOIN ctx ON ctx.w1 = split_part(big.gram, ' ', 1)
  GROUP BY big.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.s AS avg_logprob,
       COALESCE(s.s >= {LM_KEEP_THRESHOLD}, FALSE) AS lm_keep
FROM documents d
LEFT JOIN scored s USING (doc_id)
ORDER BY doc_id
"""


@query("q_lm_quality", oracle=_LM_QUALITY_ORACLE, plan_memo=True)
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: n-gram language-model quality scoring (the CCNet/C4 recipe
    rendered relational): train an add-k-smoothed bigram model ON the
    corpus itself, then score every document by its mean bigram
    log-probability. Low scores flag token soup, boilerplate, and
    wrong-language text that per-row heuristics (L8) miss, because the
    signal is corpus-relative, not absolute.

    P(w2|w1) = (c(w1 w2) + a) / (c(w1 ·) + a·V), a = 0.5, V = |vocab|.

    Determinism: counts are exact ints; the smoothed ratio is computed
    in identical double ops in both engines; LN (the one transcendental)
    is quantized to integer micro-log-probs (``LM_QUANT`` — pure binary
    arithmetic + exact floor, never a decimal-string ROUND), summed as
    exact integers (order-free on any cluster size), and the mean is
    the identical correctly-rounded double division in both engines.

    100 TB shape: three gram-keyed shuffles (count model, context
    marginals, probe join) + one doc_id agg — all linear, no driver
    state; the vocabulary size rides along as a broadcast 1-row scalar
    (the guarded-J9 idiom). At scale the model table is itself large, so
    the probe stays a shuffle join on the gram key (never broadcast);
    production variants hash grams to 64-bit keys and prune the model to
    top-M grams with a backoff floor — same plan shape, smaller state.
    """
    return lm_quality_scores(load_table(spark, sf_dir, "documents"))


def lm_quality_scores(docs: DataFrame) -> DataFrame:
    """Core of :func:`q_lm_quality` on an arbitrary (doc_id, text) frame
    — separated so tests can plant token-soup documents."""
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    toks = docs.select("doc_id", words.alias("words"))
    vocab = toks.select(F.explode("words").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("words") - 1),
        lambda i: F.concat_ws(" ", F.slice("words", i, 2)),
    )
    big = toks.filter(F.size("words") >= 2).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    model = big.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.split_part(F.col("gram"), F.lit(" "), F.lit(1))
    ctx = model.groupBy(w1.alias("w1")).agg(F.sum("c2").alias("c1"))
    logp = F.log(
        (F.col("c2") + F.lit(LM_ALPHA))
        / (F.col("c1") + F.lit(LM_ALPHA) * F.col("v"))
    )
    # finalize the per-gram log-prob on the VOCAB-sized model table
    # (one small w1 join + the broadcast scalar), so the corpus-sized
    # probe join carries a single ready column and the only big-frame
    # exchanges are the gram agg (reused by the probe) + the doc agg —
    # joining ctx onto every corpus bigram row instead measured
    # 2.69 s vs 1.81 s best-of-3 at sf0.1
    model_scored = (
        model.withColumn("w1", w1)
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.floor(logp * LM_QUANT + F.lit(0.5))
            .cast("long")
            .alias("logp_q"),
        )
    )
    # Catalyst passes the docs scan size straight through Generate, so
    # it sizes the exploded gram frame at the scan size (27.8 KB
    # claimed vs ~700 KB real at sf0.01), a gap that grows with scale.
    # The model side is therefore broadcast only while an honest
    # gram-mass bound fits the broadcast budget: text bytes ≈ 3×
    # parquet bytes at ~6 B per word, so model rows ≤ gram rows ≈ scan
    # bytes / 2, at 16 B per (gram, logp_q) row. Past the budget the
    # hint is dropped and Catalyst/AQE plan the probe.
    budget = bytes_conf(
        docs.sparkSession,
        "spark.sql.autoBroadcastJoinThreshold",
        10 * 1024 * 1024,
    )
    scan_bytes = int(
        str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if 0 < budget and 8 * scan_bytes <= budget:
        model_scored = F.broadcast(model_scored)
    probe = big.join(model_scored, "gram")
    scored = (
        probe
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("logp_q").cast("double")
                / F.lit(LM_QUANT)
                / F.count(F.lit(1))
            ).alias("s"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.col("s").alias("avg_logprob"),
            F.coalesce(F.col("s") >= LM_KEEP_THRESHOLD, F.lit(False)).alias(
                "lm_keep"
            ),
        )
        .orderBy("doc_id")
    )


# --- intra-document repetition (Gopher/Rae-style repetition filters) ----------


def repetition_metric_cols(text_col: Column) -> list[Column]:
    """The five Gopher repetition metrics as aliased columns (see
    :func:`repetition_profile` for semantics). Exposed separately so
    ``q_doc_profile`` folds them into its one map-only pass (round 6 —
    the driver-visible home of this operator family)."""
    words = F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: F.length(w) > 0
    )
    lines = F.filter(
        F.split(text_col, "\n"), lambda l: F.length(F.trim(l)) > 0
    )

    def dup_frac(arr):
        total = F.size(arr)
        return F.when(total <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(arr)) / total
        )

    def ngrams(arr, n):
        count = F.greatest(F.size(arr) - (n - 1), F.lit(0))
        return F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        )

    # chars inside duplicated lines: an occurrence is duplicated iff it
    # equals its neighbor in the sorted array (runs of length >= 2)
    sorted_lines = F.sort_array(lines)
    n_lines = F.size(sorted_lines)
    dup_line_chars = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_lines, F.lit(1))),
            lambda i: F.when(
                (
                    (i > 1)
                    & (
                        F.element_at(sorted_lines, i)
                        == F.element_at(sorted_lines, i - 1)
                    )
                )
                | (
                    (i < n_lines)
                    & (
                        F.element_at(sorted_lines, i)
                        == F.element_at(sorted_lines, i + 1)
                    )
                ),
                F.length(F.element_at(sorted_lines, i)),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    total_line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )

    # modal word count via one pass over the sorted words: accumulator
    # (prev word, current run, best run) — no explode, no shuffle
    sorted_words = F.sort_array(words)
    top_run = F.aggregate(
        sorted_words,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )

    n_words = F.size(words)
    return [
        F.round(dup_frac(lines), 6).alias("dup_line_frac"),
        F.round(
            F.when(total_line_chars <= 0, F.lit(0.0)).otherwise(
                dup_line_chars / total_line_chars
            ),
            6,
        ).alias("dup_line_char_frac"),
        F.round(dup_frac(words), 6).alias("dup_word_frac"),
        F.round(
            F.when(n_words < 3, F.lit(0.0)).otherwise(
                dup_frac(ngrams(words, 3))
            ),
            6,
        ).alias("dup_3gram_frac"),
        F.round(
            F.when(n_words <= 0, F.lit(0.0)).otherwise(top_run / n_words), 6
        ).alias("top_word_frac"),
    ]


def repetition_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics — the Rae et al. (Gopher) family
    of repetition filters a pretraining pipeline runs beside the
    quality score (L8): repeated lines/words/n-grams are the strongest
    single signal of boilerplate and templated spam.

    Emits, per doc:
    - ``dup_line_frac``    — 1 − distinct/total over lines,
    - ``dup_line_char_frac`` — fraction of characters living in lines
      that occur more than once (catches short-but-huge repeated lines
      the count-based fraction underweights),
    - ``dup_word_frac``    — 1 − distinct/total over words,
    - ``dup_3gram_frac``   — 1 − distinct/total over word 3-grams (the
      n the Gopher paper found most discriminative mid-range),
    - ``top_word_frac``    — occurrences of the modal word / words.

    100 TB shape: every metric is array algebra over the row's own
    tokens (split / sort_array / array_distinct / aggregate with a
    struct accumulator) — pure whole-stage-codegen, zero exchanges,
    zero UDFs; composes with ``q_doc_profile``'s keep flag as one
    map-only pass (and is folded into that registry row since round 6).
    """
    return docs.select(
        F.col(id_col), *repetition_metric_cols(F.col(text_col))
    )
