"""Skew mitigation for hot join keys (SURVEY.md §4 'salt hot keys').

AQE's skew-join split (enabled engine-wide in session.py) handles most
skew by splitting oversized sort-merge partitions at runtime. Salting is
the complementary *plan-time* tool for the case AQE can't fix: a
broadcast-ineligible dimension joined on a key where one value carries a
large share of the fact rows — the single reducer for that key becomes
the stage's straggler.

``salted_join`` splits every hot key's rows across ``n_salts`` reducers:
the fact side gets a deterministic per-row salt (hash of a row-unique
column — never ``rand()``, which would break retry/resume determinism),
the dimension side is exploded ``n_salts`` times, and the join key
becomes (key, salt). Dimension duplication is the price: use only when
dim x n_salts is still small relative to the fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

SALT_COL = "_salt"

#: planner-form salt columns — per-side names so the explicit join
#: predicate (which references BASE attributes that survive the salt
#: withColumn) can add an unambiguous salt equality on top
SALT_HOT = "_salt_h"
SALT_OTHER = "_salt_o"


def _hashable(dt: DataType) -> bool:
    """xxhash64 rejects MapType (at any nesting depth) — hash order
    over map entries is undefined. Everything else is fair game."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def hashable_columns(df: DataFrame) -> list[str]:
    """Columns of ``df`` that ``xxhash64`` accepts (no MapType at any
    nesting level) — the salt-derivation input set."""
    return [f.name for f in df.schema.fields if _hashable(f.dataType)]


def salted_shuffle_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    salt_side: str,
    n_salts: int = 8,
) -> DataFrame:
    """Planner form of :func:`salted_join` (X58, round 12): inner-join
    ``left`` and ``right`` on an explicit attribute predicate with the
    HOT side's rows spread across ``n_salts`` reducers.

    Differences from the user-facing ``salted_join``: the key columns
    may be differently named on the two sides (``on`` is the already
    built equality predicate — its base attributes survive the salt
    ``withColumn``, so it still resolves), no row-unique column is
    assumed (the salt is ``xxhash64`` over EVERY hashable column of the
    hot side — deterministic under task retry, and a hot key's rows
    spread as long as they differ in any other column; fully duplicate
    rows share a salt, which costs spread, never correctness), and the
    output column ORDER is exactly the unsalted ``left.join(right)``'s
    (salts are appended last and dropped). Inner-join only: the
    exploded side would duplicate ITS unmatched rows under right/full
    semantics.
    """
    if salt_side not in ("left", "right"):
        raise ValueError(f"salt_side must be 'left' or 'right', got {salt_side!r}")
    hot, other = (left, right) if salt_side == "left" else (right, left)
    hash_cols = hashable_columns(hot)
    if not hash_cols:
        raise ValueError(
            "salted_shuffle_join: the hot side has no xxhash64-hashable "
            "column to derive a deterministic salt from"
        )
    hot = hot.withColumn(
        SALT_HOT,
        F.pmod(F.xxhash64(*[hot[c] for c in hash_cols]), F.lit(n_salts)).cast(
            "int"
        ),
    )
    other = other.withColumn(
        SALT_OTHER,
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    lf, rf = (hot, other) if salt_side == "left" else (other, hot)
    out = lf.join(
        rf, on=on & (F.col(SALT_HOT) == F.col(SALT_OTHER)), how="inner"
    )
    return out.drop(SALT_HOT, SALT_OTHER)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    row_id: str | Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact`` and ``dim`` on ``on`` with the fact's hot keys
    spread across ``n_salts`` reducers.

    ``row_id`` must be a row-unique fact column (event_id, orderkey …):
    its hash assigns each fact row a stable salt, so rows of one hot key
    land on ``n_salts`` different (key, salt) reducers while results stay
    identical to the unsalted join (verified in tests/test_bucketing_skew.py).
    """
    rid = F.col(row_id) if isinstance(row_id, str) else row_id
    salted_fact = fact.withColumn(
        SALT_COL, F.pmod(F.xxhash64(rid), F.lit(n_salts)).cast("int")
    )
    salts = F.explode(
        F.array(*[F.lit(i) for i in range(n_salts)])
    ).alias(SALT_COL)
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(salted_dim, on=[on, SALT_COL], how=how)
    return out.drop(SALT_COL)
