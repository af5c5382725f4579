"""Deterministic Bloom filter as a runtime row-level join filter.

The standard 100 TB pattern this implements: a small/medium build side
(an incoming batch's join keys) prunes a huge probe side (a standing
corpus index) BEFORE the shuffle join, so index rows whose key cannot
possibly match never leave the scan stage. Spark's optimizer injects
this automatically in some shapes (``InjectRuntimeFilter``), but not
through multi-step pipelines like the minhash probe — so the engine
provides it as an explicit, composable primitive.

Design constraints and choices:

- **No false negatives, ever** — both sides derive bits from the same
  seeded ``xxhash64(cols…, i)`` family, so a key present on the build
  side always tests positive on the probe side. Equivalence under
  pruning is therefore exact (pinned in tests), and false positives
  only cost the work the downstream equi-join would have discarded
  anyway.
- **Distributed build, bounded driver state** — bit positions are
  aggregated into 64-bit words by a ``bit_or`` hash agg (map-side
  combined, at most ``m/64`` result rows); the driver materializes the
  ``m/64``-long word array once (a ~2 MB array for a 1M-key batch at
  16 bits/key) and re-broadcasts it as a 1-row frame, the engine's
  scalar-join idiom (J9).
- **JVM-side probe** — the membership test is pure built-in column
  arithmetic (``xxhash64``/``pmod``/``shiftright``/bitwise AND), no
  Python in the hot path, fully codegen-able.

Sizing: ``m = next_pow2(bits_per_key · n)`` bits with ``k`` hashes;
defaults (16 bits/key, k=6) give ~0.2% false positives — noise next
to the exact join that follows.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: defaults: ~0.2% FP at 16 bits/key with 6 hashes
BLOOM_BITS_PER_KEY = 16
BLOOM_HASHES = 6
_MIN_BITS = 1 << 10
#: refuse to build absurdly large filters (1 Gbit = 128 MB of words);
#: past this the caller should sample keys or use a coarser filter
_MAX_BITS = 1 << 30


@dataclass(frozen=True)
class BloomFilter:
    """Immutable built filter: the word array plus its hash layout."""

    words: tuple[int, ...]  # m/64 signed 64-bit words
    m: int  # filter size in bits (power of two)
    k: int  # hash count
    cols: tuple[str, ...]  # key columns, in hash order
    n_keys: int  # distinct build keys (for observability)


def _bit_exprs(cols: tuple[str, ...], m: int, k: int) -> list[F.Column]:
    """The shared hash family: bit position ``i`` for a key is
    ``pmod(xxhash64(cols…, i), m)`` — seeded by the literal index, so
    build and probe agree on any machine/partitioning."""
    return [
        F.pmod(F.xxhash64(*cols, F.lit(i)), F.lit(m)) for i in range(k)
    ]


def build_bloom(
    df: DataFrame,
    cols: list[str],
    bits_per_key: int = BLOOM_BITS_PER_KEY,
    n_hashes: int = BLOOM_HASHES,
) -> BloomFilter:
    """Build a Bloom filter over the distinct ``cols`` tuples of ``df``.

    One distinct + one count + one ``bit_or`` word agg — all
    map-side-combinable; the collected result is the word array
    (≤ m/64 rows), never the keys.

    Cost ceiling, out loud: at the ``_MAX_BITS`` cap (2^30 bits) the
    word array is 128 MB, collected to the driver once and re-broadcast
    to every executor by ``bloom_prune`` — that is the deliberate upper
    bound of this design, reached at ~67M build keys with the default
    16 bits/key. Past it the filter saturates (FP rate rises) rather
    than grow; callers with larger key sets should sample keys or
    partition the filter.
    """
    keyed = df.select(*cols).distinct()
    n = keyed.count()
    m = _MIN_BITS
    while m < bits_per_key * n and m < _MAX_BITS:
        m <<= 1
    bits = keyed.select(
        F.explode(F.array(*_bit_exprs(tuple(cols), m, n_hashes))).alias(
            "bit"
        )
    )
    words = (
        bits.select(
            F.shiftright("bit", 6).alias("w"),
            F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("m"))
        .collect()
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["m"]
    return BloomFilter(
        words=tuple(arr), m=m, k=n_hashes, cols=tuple(cols), n_keys=n
    )


def membership_expr(
    bf: BloomFilter, bits_col: F.Column, keys: list[F.Column]
) -> F.Column:
    """The JVM-side membership test as a composable boolean Column:
    ``keys`` MIGHT be in the filter whose word array is ``bits_col``.
    Factored out (round 8) so callers can test membership inside array
    lambdas / arbitrary expressions, not only via ``bloom_prune``'s
    row filter. ``call_function`` is used for the variable-amount
    shifts (the Python ``shiftleft``/``shiftright`` wrappers only take
    int literals)."""
    cond = F.lit(True)
    for i in range(bf.k):
        h = F.pmod(F.xxhash64(*keys, F.lit(i)), F.lit(bf.m))
        word = F.element_at(
            bits_col, F.shiftright(h, 6).cast("int") + F.lit(1)
        )
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(h, F.lit(64)).cast("int"),
        )
        cond = cond & (word.bitwiseAND(mask) != F.lit(0))
    return cond


def bloom_prune(df: DataFrame, bf: BloomFilter) -> DataFrame:
    """Keep only rows whose key MIGHT be in the filter (no false
    negatives). The bitmap rides a broadcast 1-row frame; the test is
    ``k`` word-lookup/AND expressions, all JVM-side.

    The bitmap working-column name is collision-checked against
    ``df.columns`` (round 8): a caller frame that already carries
    ``_bf`` no longer hits an ambiguous-column analysis error or loses
    its column to the trailing drop.
    """
    spark = df.sparkSession
    bfc, n = "_bf", 0
    while bfc in df.columns:
        n += 1
        bfc = f"_bf_{n}"
    bits_df = spark.createDataFrame(
        [(list(bf.words),)], f"{bfc} array<bigint>"
    )
    return (
        df.crossJoin(F.broadcast(bits_df))
        .filter(
            membership_expr(
                bf, F.col(bfc), [F.col(c) for c in bf.cols]
            )
        )
        .drop(bfc)
    )


def might_contain_keys(bf: BloomFilter, df: DataFrame) -> DataFrame:
    """Diagnostic: tag each distinct key of ``df`` with its filter
    verdict — used by tests to pin the no-false-negative guarantee and
    measure the false-positive rate."""
    keyed = df.select(*bf.cols).distinct()
    kept = bloom_prune(keyed, bf).withColumn("_might", F.lit(True))
    return keyed.join(kept, list(bf.cols), "left").select(
        *bf.cols, F.coalesce("_might", F.lit(False)).alias("might_contain")
    )


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for a frame (file scans: sum of
    file sizes propagated through projections) — metadata-only, no
    job. ``None`` when Catalyst reports its unknown-size sentinel or
    the JVM fails to estimate; a Python-side error raises."""
    try:
        v = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Py4JJavaError:
        return None
    return None if v >= (1 << 62) else v


#: the huge side must be at least this big before the filter's two
#: fixed build jobs (~1-2 s of job latency + a build-side pass) can
#: possibly be repaid by the avoided shuffle — measured at sf1.0
#: (SCALE.md round 9): a ~tens-of-MB hashed-gram stream loses with the
#: filter in BOTH regimes; the win needs shuffle bytes in the GBs
BLOOM_HUGE_SIDE_MIN_BYTES = 1 << 30


def should_bloom_prefilter(
    build_side: DataFrame,
    huge_side: DataFrame | None = None,
    threshold: int | None = None,
    min_huge_bytes: int = BLOOM_HUGE_SIDE_MIN_BYTES,
) -> bool:
    """X28 auto-dispatch (round 9): ON exactly when the join would
    otherwise SHUFFLE a huge side big enough to pay for the filter.

    Two metadata-only conditions, both required:

    1. **The build side cannot broadcast** (its Catalyst size estimate
       exceeds ``spark.sql.autoBroadcastJoinThreshold``/the override,
       or broadcast is disabled). Under the threshold the join is
       already a map-side BroadcastHashJoin that drops non-matching
       huge-side rows inside the same scan stage — the filter saves
       nothing and its build cost is pure overhead (measured
       net-negative: sf1.0 contamination 2.28 s auto-OFF vs 3.11 s
       forced-ON, SCALE.md round 9).
    2. **The huge side is worth saving**: its size estimate is at
       least ``min_huge_bytes``. The build costs two fixed jobs; a
       huge side of mere tens of MB sheds less shuffle than those
       jobs cost even in the shuffle regime (measured: 4.31 s
       forced-ON vs 3.14 s OFF at sf1.0, SCALE.md) — the filter's
       regime is GBs+ of avoided shuffle, i.e. standing-corpus scale.

    Unknown sizes resolve permissively for their condition (unknown
    build side: can't broadcast → pass; unknown/omitted huge side:
    assume big — the 100 TB call sites pass file-scan frames whose
    sizes ARE known, so this only fires on exotic plans)."""
    if threshold is None:
        from ..tables import bytes_conf

        threshold = bytes_conf(
            build_side.sparkSession,
            "spark.sql.autoBroadcastJoinThreshold",
            10 * 1024 * 1024,
        )
    if threshold > 0:
        size = plan_size_bytes(build_side)
        if size is not None and size <= threshold:
            return False  # the BHJ already drops huge-side rows map-side
    if huge_side is not None:
        hsize = plan_size_bytes(huge_side)
        if hsize is not None and hsize < min_huge_bytes:
            return False  # too little shuffle saved to repay the build
    return True
