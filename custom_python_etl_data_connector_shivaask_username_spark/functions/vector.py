"""Vector math over ARRAY<FLOAT> embedding columns (SURVEY.md §2.11 L5).

Everything is built from array higher-order functions (zip_with /
aggregate / transform) — JVM-side, inside whole-stage codegen, no UDFs.
A 64-dim dot product is 64 fused multiply-adds per row; at 100 TB this
is scan-bound, exactly as it should be.

Precision rule: float32 elements are cast to DOUBLE (exact) before any
arithmetic. Never cast FLOAT directly to DECIMAL — engines disagree on
shortest-repr rounding ~1e-4 of the time; FLOAT→DOUBLE→DECIMAL is safe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(arr: Column | str) -> Column:
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(a, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: sequential left fold in double (deterministic)."""
    products = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def sq_norm(a: Column | str) -> Column:
    return dot(a, a)


def norm(a: Column | str) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lit_vector(values) -> Column:
    """A literal query vector (e.g. collected driver-side) as ONE
    array literal — a single Literal node instead of a CreateArray of
    dim Literals (round 10: one py4j call instead of dim+1, and a
    dim-fold smaller expression tree for every analyze/codegen pass
    that touches it — centroid tables build hundreds of these)."""
    vals = [float(v) for v in values]
    if not vals:
        return F.array()  # F.lit([]) cannot infer an element type
    return F.lit(vals)


# --- int8 quantization (4x storage cut for embedding stores) ------------------


def quantize_int8(a: Column | str) -> Column:
    """Per-vector symmetric int8 quantization: struct(scale DOUBLE,
    q ARRAY<TINYINT>) with q[i] = round(x[i] * 127 / max_abs).

    The standard storage/IO format for 100 TB embedding stores (4x
    smaller than float32, 8x than float64); error is bounded by
    scale/254 per element. All-zero vectors keep scale 0 and decode to
    zeros. HOFs only — the quantize runs inside codegen next to the
    scan that produced the embedding.
    """
    arr = as_double(a)
    max_abs = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = max_abs / F.lit(127.0)
    q = F.transform(
        arr,
        lambda x: F.when(max_abs == 0.0, F.lit(0))
        .otherwise(F.round(x / scale, 0))
        .cast("tinyint"),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qs: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: ARRAY<DOUBLE> ≈ the original."""
    s = F.col(qs) if isinstance(qs, str) else qs
    return F.transform(
        s["q"], lambda x: x.cast("double") * s["scale"]
    )
