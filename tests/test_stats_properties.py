"""Property tests (hypothesis) for the PURE driver-side pruning math
in `sources/file_index.py` — no SparkSession: the indexes are
constructed by hand, then the invariants are checked on random data:

- file pruning NEVER drops a file that contains a matching value
  (the never-lose-rows contract as a property, not an example);
- the temporal axis mappings are strictly order-preserving.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
    _to_axis,
    prune_files,
)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(-1e5, 1e5, allow_nan=False, allow_infinity=False),
        min_size=4,
        max_size=200,
    ),
    st.integers(2, 6),
    st.floats(-1.1e5, 1.1e5),
    st.floats(-1.1e5, 1.1e5),
)
def test_prune_never_loses_matching_files(data, nfiles, a, b):
    """Split sorted data into contiguous files; any file holding a
    value inside the queried range must survive pruning."""
    lo, hi = (a, b) if a <= b else (b, a)
    data = sorted(data)
    per = max(1, len(data) // nfiles)
    chunks = [data[i : i + per] for i in range(0, len(data), per)]
    index = {
        "files": [
            {
                "file": f"f{i}",
                "rows": len(ch),
                "columns": {
                    "x": {
                        "min": min(ch),
                        "max": max(ch),
                        "null_count": 0,
                        "kind": "numeric",
                    }
                },
            }
            for i, ch in enumerate(chunks)
            if ch
        ]
    }
    kept = set(prune_files(index, "x", lo, hi))
    for i, ch in enumerate(chunks):
        if ch and any(lo <= v <= hi for v in ch):
            assert f"f{i}" in kept


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.datetimes(
            min_value=__import__("datetime").datetime(1971, 1, 1),
            max_value=__import__("datetime").datetime(2100, 1, 1),
        ),
        min_size=2,
        max_size=20,
        unique=True,
    ),
    st.sampled_from(["timestamp", "timestamp_ntz"]),
)
def test_axis_value_order_preserving(dts, kind):
    axis = [_to_axis(v, kind) for v in sorted(dts)]
    assert axis == sorted(axis)
    assert len(set(axis)) == len(axis)  # injective
