"""Property tests (hypothesis) for the PURE driver-side planning
math in `plans/stats.py` / `sources/file_index.py` — no SparkSession:
the stats dicts and indexes are constructed by hand, then the
estimators' algebraic invariants are checked on random data:

- min/max range estimates are monotone in range containment and
  bounded by the non-null count; full range recovers it exactly;
- a conjunction modeled by successive `apply_filter_to_stats` calls
  is bounded by each single-predicate estimate and monotone under
  narrowing;
- file pruning NEVER drops a file that contains a matching value
  (the never-lose-rows contract as a property, not an example);
- the temporal axis mappings are strictly order-preserving.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from custom_python_etl_data_connector_shivaask_username_spark.plans.stats import (
    _axis_value,
    apply_filter_to_stats,
    estimate_range_rows,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.file_index import (
    prune_files,
)


def _minmax_stats(data: list[float]) -> dict:
    """The stats dict collect_table_stats builds for a non-null double
    column (min/max and NDV)."""
    cstat = {
        "type": "double",
        "ndv": len(set(data)),
        "min": min(data),
        "max": max(data),
        "null_count": 0,
    }
    return {"row_count": len(data), "columns": {"x": cstat}}


values = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=2,
    max_size=300,
)


@settings(max_examples=150, deadline=None)
@given(values)
def test_estimate_monotone_and_bounded(data):
    lo, hi = min(data), max(data)
    n = len(data)
    stats = _minmax_stats(data)
    full = estimate_range_rows(stats, "x")
    assert abs(full - n) <= 1e-6 * n
    mid = (lo + hi) / 2
    inner = estimate_range_rows(stats, "x", lo + (mid - lo) / 2, mid)
    outer = estimate_range_rows(stats, "x", lo, mid)
    assert -1e-9 <= inner <= outer + 1e-9 <= n + 1e-9
    # outside the observed domain: provably zero
    assert estimate_range_rows(stats, "x", hi + 1, hi + 2) == 0.0
    assert estimate_range_rows(stats, "x", lo - 2, lo - 1) == 0.0


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
    axis = [_axis_value(v, kind) for v in sorted(dts)]
    assert axis == sorted(axis)
    assert len(set(axis)) == len(axis)  # injective


@settings(max_examples=100, deadline=None)
@given(
    st.integers(10, 10_000),
    st.integers(1, 1000),
    st.integers(1, 1000),
)
def test_eq_conjunction_bounded_and_monotone(n, ndv_a, ndv_b):
    """`a = 1 AND b = 1` modeled as two successive equality filters:
    each predicate only shrinks the row count and the scan size, the
    second sees NDVs capped at the first's rows, and the result never
    falls below the independence estimate."""
    ndv_a, ndv_b = min(ndv_a, n), min(ndv_b, n)
    stats = {
        "row_count": n,
        "size_bytes": 64 * n,
        "columns": {
            "a": {"type": "bigint", "ndv": ndv_a, "null_count": 0},
            "b": {"type": "bigint", "ndv": ndv_b, "null_count": 0},
        },
    }
    one = apply_filter_to_stats(stats, "a", eq=1)
    both = apply_filter_to_stats(one, "b", eq=1)
    assert 0 <= both["row_count"] <= one["row_count"] <= n
    assert 0 <= both["size_bytes"] <= one["size_bytes"] <= 64 * n
    assert one["columns"]["b"]["ndv"] <= max(1, one["row_count"])
    assert both["row_count"] >= n / (ndv_a * ndv_b) - 1


_pts = st.lists(
    st.tuples(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=4,
    max_size=120,
)

_lo_frac = st.floats(min_value=0.0, max_value=0.5)
_w_frac = st.floats(min_value=0.05, max_value=0.5)


def _xy_stats(pts: list[tuple[float, float]]) -> dict:
    """The stats dict collect_table_stats builds for two non-null
    double columns."""
    cols = {}
    for c, vals in (("x", [p[0] for p in pts]), ("y", [p[1] for p in pts])):
        cols[c] = {
            "type": "double",
            "ndv": len(set(vals)),
            "min": min(vals),
            "max": max(vals),
            "null_count": 0,
        }
    return {"row_count": len(pts), "columns": cols}


def _conjunction_rows(stats: dict, rect: dict) -> int:
    for c, (lo, hi) in rect.items():
        stats = apply_filter_to_stats(stats, c, lo=lo, hi=hi)
    return stats["row_count"]


@settings(max_examples=120, deadline=None)
@given(_pts, _lo_frac, _w_frac, _lo_frac, _w_frac,
       _lo_frac, _w_frac, _lo_frac, _w_frac)
def test_range_conjunction_bounded_and_monotone(
    pts, a1, w1, c1, v1, a2, w2, c2, v2
):
    """`x BETWEEN .. AND y BETWEEN ..` modeled as two successive range
    filters is (1) bounded by [0, row_count], (2) bounded by every
    single-column estimate, (3) monotone under rectangle containment,
    and (4) the full-domain rectangle recovers the row count."""
    stats = _xy_stats(pts)
    n = stats["row_count"]
    xs = stats["columns"]["x"]
    ys = stats["columns"]["y"]

    def lerp(lo, hi, t):
        return lo + (hi - lo) * t

    def inside(lo, hi, t, w):
        return max(lerp(lo, hi, t), lo), min(lerp(lo, hi, t + w), hi)

    ox = inside(xs["min"], xs["max"], a1, w1)
    oy = inside(ys["min"], ys["max"], a2, w2)
    outer_rect = {"x": ox, "y": oy}
    inner_rect = {"x": inside(*ox, c1, v1), "y": inside(*oy, c2, v2)}

    outer = _conjunction_rows(stats, outer_rect)
    inner = _conjunction_rows(stats, inner_rect)
    assert 0 <= inner <= outer <= n
    for c, (lo, hi) in outer_rect.items():
        assert outer <= round(estimate_range_rows(stats, c, lo, hi))
    full = {"x": (xs["min"], xs["max"]), "y": (ys["min"], ys["max"])}
    assert _conjunction_rows(stats, full) == n
