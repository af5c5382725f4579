"""Order-insensitive result digests, computed outside every timed span.

A digest is ``(row count, sum of per-row 64-bit hashes mod 2**64)``, so two
results match when they hold the same multiset of rows, whatever their
order or partitioning.

- :func:`rows_digest` hashes query results the way the repository's
  DuckDB oracle check compares them: columns in sorted-name order, every
  value by ``str``.
- :func:`frame_digest` hashes a pandas frame column by column with
  ``pandas.util.hash_pandas_object``; both sides must carry the same
  dtypes (``int64``, ``float64``, ``object`` strings).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

_MASK = (1 << 64) - 1


def _row_hash(values: tuple) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(values).encode(), digest_size=8).digest(), "little"
    )


def rows_digest(columns: list[str], rows) -> dict:
    """Digest of ``rows`` (tuples or Spark ``Row``s aligned with ``columns``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        total = (total + _row_hash(tuple(str(r[i]) for i in order))) & _MASK
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def frame_digest(frame: pd.DataFrame, columns: list[str]) -> dict:
    """Digest of ``frame[columns]``; see the module docstring for dtypes."""
    if frame.empty:
        return {"rows": 0, "hash": f"{0:016x}"}
    hashed = pd.util.hash_pandas_object(frame[columns], index=False).to_numpy()
    total = int(hashed.sum(dtype=np.uint64))
    return {"rows": len(frame), "hash": f"{total:016x}"}
