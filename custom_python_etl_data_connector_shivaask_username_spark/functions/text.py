"""Text-analysis primitives (SURVEY.md §2.11 L6-L9).

All column expressions over built-ins — tokenization, language-ID
heuristics, quality scoring, rolling-hash fingerprints — so the hot path
stays JVM-side. The only Python in this file runs at plan-build time.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish token pattern: word pieces or single non-space punctuation
TOKEN_RE = r"\w+|[^\w\s]"

#: tiny per-language stopword profiles for the n-gram/stopword heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": "the and of to in is you that it for".split(),
    "es": "el la de que y en un se no por".split(),
    "de": "der die und in den von zu das mit sich".split(),
    "fr": "le de un et à il être ne je la".split(),
    "zh": list("的一是不了人我在有他"),
}


def whitespace_tokens(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)


def bpe_ish_tokens(text: Column) -> Column:
    """Regex token stream (word pieces + punctuation) — the cheap stand-in
    for a real BPE tokenizer's token count."""
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    )


def mean_word_length(text: Column) -> Column:
    words = whitespace_tokens(text)
    total = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    return total.cast("double") / F.greatest(F.size(words), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, plausible word lengths. The shape every training-data pipeline
    needs; thresholds are deliberately simple and documented."""
    length_ok = F.least(F.length(text).cast("double") / 200.0, F.lit(1.0))
    punct_ok = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    mwl = mean_word_length(text)
    word_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.4)
    return F.round((length_ok + punct_ok + word_ok) / 3.0, 6)


def detect_language(text: Column) -> Column:
    """Stopword/charset-profile language-ID over {en,es,de,fr,zh}.

    CJK characters dominate (zh); otherwise the profile with the most
    stopword hits wins (ties break alphabetically via the struct sort).
    """
    words = F.transform(whitespace_tokens(text), F.lower)

    def in_profile(sw: list[str]):
        # closure factory — a default-arg lambda would bind the 2nd param
        # to the array index (see operators/llm_dedup._seeded_hash)
        def fn(w: Column) -> Column:
            return w.isin(*sw)

        return fn

    scores = []
    for lang, sw in STOPWORDS.items():
        if lang == "zh":
            continue
        hits = F.size(F.filter(words, in_profile(sw)))
        scores.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("unknown"))
    )


def doc_fingerprint(text: Column, k: int = 8, gram: int = 8) -> Column:
    """Bottom-k sketch of rolling character-gram hashes — a compact,
    order-independent document fingerprint; two docs' fingerprints
    overlap ∝ content overlap (winnowing-style containment checks)."""
    idx = F.sequence(
        F.lit(1), F.greatest(F.length(text) - (gram - 1), F.lit(1))
    )
    hashes = F.transform(idx, lambda i: F.xxhash64(text.substr(i, F.lit(gram))))
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, k)


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d[\d().\s-]{7,}\d"


def scrub_pii(text: Column) -> Column:
    """L9: redact emails then phone-shaped digit runs."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")


def chunk_text(
    text: Column, chunk_size: int = 20, stride: int = 15
) -> Column:
    """L7: fixed-size overlapping word-window chunks (array form; callers
    posexplode for one-row-per-chunk)."""
    words = whitespace_tokens(text)
    n_chunks = F.floor((F.size(words) - 1) / stride).cast("int") + 1
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * stride + 1, chunk_size)),
    )
