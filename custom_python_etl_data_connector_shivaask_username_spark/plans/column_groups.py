"""X37: cross-column (extended) statistics — retiring the planner's
independence assumption for correlated predicates.

``apply_filter_to_stats`` / ``estimate_join_rows`` (X31/X36) model a
conjunction as a product of independent selectivities:
``sel(a=x AND b=y) = sel(a=x) * sel(b=y)``. Correlated columns —
city→state, day→month, a derived or denormalized key — make that
product underestimate by up to the full correlation factor, and an
underestimated intermediate is exactly what flips a 100 TB plan into
a bad broadcast or a mis-ordered join. This is the classic q-error
source the warehouses fix with extended statistics (PostgreSQL
``CREATE STATISTICS (ndistinct)``, Oracle column groups); same public
design here, on the X31 stats dict:

- :func:`collect_column_group_stats` — ONE extra aggregation pass
  adds, for each requested column group, the group NDV
  (``approx_count_distinct`` over the group struct — HLL++,
  mergeable partials, map-side combined) plus the group's non-null
  count, under ``stats["column_groups"]["a|b"]``.
- :func:`estimate_eq_conjunction_rows` — rows matching
  ``c1=v1 AND c2=v2 AND ...``: collected groups covering subsets of
  the predicate columns contribute ``1/ndv_group`` instead of the
  per-column product ``1/(ndv_c1 * ndv_c2 * ...)``. Since
  ``ndv_group <= prod(ndv_c)`` always (you cannot have more distinct
  combinations than the product), group stats can only RAISE the
  estimate toward truth — correlation means fewer distinct
  combinations, each matching more rows.
- :func:`apply_eq_conjunction_to_stats` — the metadata-only
  filtered-stats twin of ``apply_filter_to_stats``: the stats a
  table WOULD have after the conjunction, so correlated-filter
  tables enter :func:`plan_join_tree` with sane row counts, without
  scanning anything.

Group selection is the user's (or a workload analyzer's) call —
collecting every pair is quadratic in columns; collect the groups
your WHERE clauses actually conjoin, the same guidance Postgres
gives. Cost shape at 100 TB: each group is one more HLL sketch per
task in an already-running pass — metadata next to the scan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stats import estimate_range_rows

#: separator for group keys in the stats dict ("a|b" — column names
#: in this engine are sanitized identifiers, never containing '|')
GROUP_SEP = "|"


def group_key(columns: list[str]) -> str:
    return GROUP_SEP.join(sorted(columns))


def collect_column_group_stats(
    df: DataFrame,
    stats: dict[str, Any],
    groups: list[list[str]],
    rsd: float = 0.05,
) -> dict[str, Any]:
    """One pass over the table adds group-NDV stats for each column
    group. Returns a new stats dict (input not mutated) with
    ``column_groups[key] = {columns, ndv, non_null}`` where
    ``non_null`` counts rows with ALL group columns present (the rows
    an eq-conjunction can match)."""
    if not groups:
        return stats
    for g in groups:
        if len(g) < 2:
            raise ValueError(f"a column group needs >= 2 columns: {g}")
        missing = set(g) - set(df.columns)
        if missing:
            raise ValueError(f"group {g} references absent columns: {missing}")
    aggs = []
    keys = []
    for g in groups:
        k = group_key(g)
        keys.append((k, sorted(g)))
        struct = F.struct(*[F.col(c) for c in sorted(g)])
        all_present = None
        for c in sorted(g):
            cond = F.col(c).isNotNull()
            all_present = cond if all_present is None else (all_present & cond)
        # NDV over fully-present tuples only: a NULL member makes the
        # eq-conjunction unmatchable, so partial tuples would only
        # dilute the estimate
        aggs += [
            F.approx_count_distinct(
                F.when(all_present, struct), rsd
            ).alias(f"__gndv__{k}"),
            F.sum(all_present.cast("long")).alias(f"__gnn__{k}"),
        ]
    row = df.agg(*aggs).first()
    out = {**stats, "column_groups": dict(stats.get("column_groups", {}))}
    for k, cols in keys:
        out["column_groups"][k] = {
            "columns": cols,
            "ndv": int(row[f"__gndv__{k}"] or 0),
            "non_null": int(row[f"__gnn__{k}"] or 0),
        }
    return out


def _col_ndv(stats: dict[str, Any], col: str) -> float | None:
    c = stats.get("columns", {}).get(col)
    if c and c.get("ndv"):
        return max(1.0, float(c["ndv"]))
    return None


def _cover(
    stats: dict[str, Any], cols: set[str]
) -> tuple[list[dict], set[str]]:
    """Greedy cover of the predicate columns by collected groups:
    repeatedly take the largest collected group fully contained in
    the uncovered set. Leftover columns fall back to per-column NDV
    (independence)."""
    chosen = []
    remaining = set(cols)
    groups = sorted(
        stats.get("column_groups", {}).values(),
        key=lambda g: -len(g["columns"]),
    )
    for g in groups:
        gcols = set(g["columns"])
        if gcols <= remaining and g.get("ndv"):
            chosen.append(g)
            remaining -= gcols
    return chosen, remaining


def estimate_eq_conjunction_rows(
    stats: dict[str, Any], eqs: dict[str, Any]
) -> float:
    """Estimated rows matching ``AND``-ed equality predicates.

    Covered groups contribute ``1/ndv_group``; leftover columns the
    independence ``1/ndv_col`` (a column with no collected NDV
    contributes nothing — no reduction claimed, the X36 convention).
    The result is capped by each single-predicate histogram estimate:
    adding a predicate can never return MORE rows."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    if n == 0 or not eqs:
        return n
    chosen, leftover = _cover(stats, set(eqs))
    denom = 1.0
    nn = n
    for g in chosen:
        denom *= max(1.0, float(g["ndv"]))
        nn = min(nn, float(g.get("non_null", n)))
    for c in leftover:
        ndv = _col_ndv(stats, c)
        if ndv:
            denom *= ndv
            cst = stats.get("columns", {}).get(c, {})
            nn = min(nn, n - float(cst.get("null_count", 0)))
    est = nn / denom
    # never exceed any single predicate's own estimate — including a
    # PROVEN zero (value outside the column's histogram/min-max: the
    # strongest pruning signal the stats can give). EXCEPT on sampled
    # stats: X33 documents sample min/max as under-estimates of the
    # true range, so "outside the bounds" proves nothing there — a
    # zero from a sampled sidecar is ignored rather than turned into
    # a row_count=0 (and a false broadcast) downstream.
    sampled = bool(stats.get("sampled"))
    for c, v in eqs.items():
        single = estimate_range_rows(stats, c, v, v)
        if single > 0 or not sampled:
            est = min(est, single)
    return max(0.0, est)


def apply_eq_conjunction_to_stats(
    stats: dict[str, Any], eqs: dict[str, Any]
) -> dict[str, Any]:
    """Metadata-only stats for the table AFTER the eq-conjunction —
    the multi-predicate twin of ``apply_filter_to_stats``. Row count
    from :func:`estimate_eq_conjunction_rows`; each filtered column
    pins to its value (ndv 1, nulls 0); every other column's NDV caps
    at the new row count; histograms and group stats drop (no longer
    valid); ``size_bytes`` scales with selectivity."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    if n == 0:
        return stats
    est = estimate_eq_conjunction_rows(stats, eqs)
    sel = min(1.0, est / n)
    new_n = int(round(est))
    out: dict[str, Any] = {
        **stats,
        "row_count": new_n,
        "size_bytes": (
            int(stats["size_bytes"] * sel)
            if stats.get("size_bytes")
            else stats.get("size_bytes")
        ),
        "columns": {},
    }
    out.pop("column_groups", None)
    for c, cs in stats.get("columns", {}).items():
        cs = dict(cs)
        cs.pop("histogram", None)
        if c in eqs:
            cs["min"] = cs["max"] = eqs[c]
            cs["ndv"] = 1
            cs["null_count"] = 0
        else:
            if cs.get("ndv"):
                cs["ndv"] = max(1, min(int(cs["ndv"]), new_n))
            cs["null_count"] = int(round(cs.get("null_count", 0) * sel))
        out["columns"][c] = cs
    return out


# --- X60 (round 12): 2-D histograms — correlated RANGE conjunctions --------
#
# X37's group NDV retires independence for EQUALITY conjunctions; range
# conjunctions still multiplied per-column histogram selectivities,
# which underestimates by the full correlation factor on exactly the
# predicates warehouses see most (event time vs ingest time, price vs
# tax, derived numeric pairs). The public fix is the same one the
# equality side used — collect the JOINT distribution: a buckets×buckets
# equi-width grid of conditional counts per declared column pair (one
# extra scan, deterministic map-side partial sums, 256 counters per
# pair at the default 16 — metadata next to the scan, like X36). A
# range conjunction over a collected pair then reads its mass off the
# grid instead of multiplying marginals.


def collect_histogram_2d(
    df: DataFrame,
    stats: dict[str, Any],
    pairs: list[list[str]],
    buckets: int = 16,
) -> dict[str, Any]:
    """One scan adds a 2-D equi-width histogram for each 2-column pair
    under ``column_groups[key]["hist2d"]`` (merged into the X37 entry
    when one exists). Axes follow the 1-D collector's rules: numeric /
    date / timestamp columns with a sane collected min/max span; a pair
    with a degenerate axis is skipped (min/max fallback remains). Rows
    where EITHER column is NULL are excluded — a range conjunction
    cannot match them."""
    import math

    from .stats import _axis_value, _hist_axis

    if not pairs:
        return stats
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    targets = []
    for p in pairs:
        if len(p) != 2:
            raise ValueError(f"hist2d pairs are exactly 2 columns: {p}")
        missing = set(p) - set(df.columns)
        if missing:
            raise ValueError(f"pair {p} references absent columns: {missing}")
        cols = sorted(p)
        axes = []
        for c in cols:
            cstat = stats.get("columns", {}).get(c, {})
            axis, kind = _hist_axis(c, cstat.get("type", ""), tz)
            if axis is None:
                axes = None
                break
            lo = _axis_value(cstat.get("min"), kind)
            hi = _axis_value(cstat.get("max"), kind)
            if lo is None or hi is None or not hi > lo:
                axes = None
                break
            width = (hi - lo) / buckets
            if not math.isfinite(width) or width <= 4 * max(
                math.ulp(lo), math.ulp(hi)
            ):
                axes = None
                break
            axes.append((c, axis, kind, lo, hi, width))
        if axes:
            targets.append((group_key(cols), cols, axes))
    if not targets:
        return stats
    aggs = []
    for k, _cols, axes in targets:
        idx = []
        for _c, axis, _kind, lo, _hi, width in axes:
            idx.append(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(buckets - 1),
                        F.floor((axis - F.lit(lo)) / F.lit(width)),
                    ),
                )
            )
        present = axes[0][1].isNotNull() & axes[1][1].isNotNull()
        for i in range(buckets):
            for j in range(buckets):
                aggs.append(
                    F.sum(
                        (present & (idx[0] == i) & (idx[1] == j)).cast(
                            "long"
                        )
                    ).alias(f"__h2__{k}__{i}__{j}")
                )
    row = df.agg(*aggs).first()
    out = {**stats, "column_groups": dict(stats.get("column_groups", {}))}
    for k, cols, axes in targets:
        entry = dict(out["column_groups"].get(k, {"columns": cols}))
        entry["hist2d"] = {
            "buckets": buckets,
            "x": {
                "col": axes[0][0],
                "kind": axes[0][2],
                "lo": axes[0][3],
                "hi": axes[0][4],
            },
            "y": {
                "col": axes[1][0],
                "kind": axes[1][2],
                "lo": axes[1][3],
                "hi": axes[1][4],
            },
            "counts": [
                int(row[f"__h2__{k}__{i}__{j}"] or 0)
                for i in range(buckets)
                for j in range(buckets)
            ],
        }
        out["column_groups"][k] = entry
    return out


def _axis_overlaps(ax: dict, lo, hi, buckets: int) -> list[float] | None:
    """Per-bucket overlap fraction of the (clamped) query range with
    one grid axis — None when the clamped range has zero measure (a
    point query: the grid cannot price it; callers fall back to the
    1-D point model via independence)."""
    from .stats import _axis_value

    alo, ahi = float(ax["lo"]), float(ax["hi"])
    qlo = alo if lo is None else max(_axis_value(lo, ax["kind"]), alo)
    qhi = ahi if hi is None else min(_axis_value(hi, ax["kind"]), ahi)
    if qhi < qlo:
        return [0.0] * buckets
    if qhi == qlo:
        return None
    width = (ahi - alo) / buckets
    out = []
    for i in range(buckets):
        blo = alo + i * width
        # last bucket's top extends to the declared axis `hi` when
        # `(hi-lo)/B` rounds the nominal top BELOW it (round 13 — the
        # 2-D twin of the estimate_range_rows edge fix): the
        # build-time clamp folds that float sliver into bucket B-1,
        # so a query inside it must see a (tiny, interpolated)
        # overlap rather than a hard 0 while the 1-D model prices it
        bhi = alo + (i + 1) * width
        if i == buckets - 1:
            bhi = max(bhi, ahi)
        overlap = min(qhi, bhi) - max(qlo, blo)
        out.append(min(1.0, overlap / width) if overlap > 0 else 0.0)
    return out


def _hist2d_cover(
    stats: dict[str, Any], rngs: dict[str, tuple]
) -> tuple[list[dict], set[str]]:
    """Disjoint cover of the range-filtered columns by collected 2-D
    grids (both columns filtered, positive-measure ranges on both
    axes); leftovers fall back to per-column histograms
    (independence)."""
    chosen = []
    remaining = set(rngs)
    for g in stats.get("column_groups", {}).values():
        h = g.get("hist2d")
        if not h:
            continue
        cx, cy = h["x"]["col"], h["y"]["col"]
        if not {cx, cy} <= remaining:
            continue
        fx = _axis_overlaps(h["x"], *rngs[cx], h["buckets"])
        fy = _axis_overlaps(h["y"], *rngs[cy], h["buckets"])
        if fx is None or fy is None:
            continue  # point query on an axis: the 1-D model prices it
        chosen.append({"hist": h, "fx": fx, "fy": fy})
        remaining -= {cx, cy}
    return chosen, remaining


def hist2d_applicable(
    stats: dict[str, Any], rngs: dict[str, tuple]
) -> bool:
    """True when any collected grid touches a range-filtered column —
    either a covered pair (joint mass replaces the independence
    product) or a one-sided partner (the unfiltered column's
    `axis_range` clamps to the surviving cells). Without a touching
    grid the conjunction is priced as independent single-column
    filters."""
    for g in stats.get("column_groups", {}).values():
        h = g.get("hist2d")
        if h and ({h["x"]["col"], h["y"]["col"]} & set(rngs)):
            return True
    return False


def estimate_range_conjunction_rows(
    stats: dict[str, Any], rngs: dict[str, tuple]
) -> float:
    """Estimated rows matching AND-ed range predicates
    ``{col: (lo, hi)}`` (either bound None-able). Pairs covered by a
    collected 2-D grid contribute their JOINT mass (grid counts ×
    per-axis overlap fractions); leftover columns multiply their 1-D
    selectivities (independence, the X36 model). Capped by every
    single-column estimate — adding a predicate can never return more
    rows — with the X33 sampled-stats zero-proof exemption the
    equality twin uses.

    Model boundary (round 12, hypothesis-found): a ZERO-measure axis
    range (a point) is not priceable off a continuous grid, so such
    pairs fall back to the 1-D equality convention — and containment
    monotonicity is therefore guaranteed only WITHIN the grid-priced
    regime (positive-measure rectangles, pinned as a property) and
    within the 1-D paths (endpoint-lifted, same pin file), not across
    the point/range model switch: the no-evidence point convention
    deliberately over-claims, and flooring the grid at it would undo
    exactly the disjoint-correlated-range correction the grid exists
    to make."""
    n = float(max(0, int(stats.get("row_count") or 0)))
    if n == 0 or not rngs:
        return n
    chosen, leftover = _hist2d_cover(stats, rngs)
    sel = 1.0
    for c in chosen:
        h, fx, fy = c["hist"], c["fx"], c["fy"]
        b = h["buckets"]
        counts = h["counts"]
        mass = 0.0
        for i in range(b):
            if fx[i] == 0.0:
                continue
            base = i * b
            for j in range(b):
                if fy[j]:
                    mass += counts[base + j] * fx[i] * fy[j]
        sel *= min(1.0, mass / n)
    for c in leftover:
        lo, hi = rngs[c]
        sel *= min(1.0, estimate_range_rows(stats, c, lo, hi) / n)
    est = n * sel
    sampled = bool(stats.get("sampled"))
    for c, (lo, hi) in rngs.items():
        single = estimate_range_rows(stats, c, lo, hi)
        if single > 0 or not sampled:
            est = min(est, single)
    return max(0.0, est)


def apply_range_conjunction_to_stats(
    stats: dict[str, Any], rngs: dict[str, tuple]
) -> dict[str, Any]:
    """Metadata-only stats for the table AFTER the range conjunction —
    the range twin of :func:`apply_eq_conjunction_to_stats`. Row count
    from :func:`estimate_range_conjunction_rows`; each filtered
    column's min/max clamp to its predicate and its nulls drop; every
    other column's NDV caps at the new row count; 1-D histograms and
    group stats drop (no longer valid); ``size_bytes`` scales."""
    from .stats import _axis_value, _kind_of

    n = float(max(0, int(stats.get("row_count") or 0)))
    if n == 0:
        return stats
    est = estimate_range_conjunction_rows(stats, rngs)
    sel = min(1.0, est / n)
    new_n = int(round(est))
    out: dict[str, Any] = {
        **stats,
        "row_count": new_n,
        "size_bytes": (
            int(stats["size_bytes"] * sel)
            if stats.get("size_bytes")
            else stats.get("size_bytes")
        ),
        "columns": {},
    }
    out.pop("column_groups", None)
    for c, cs in stats.get("columns", {}).items():
        cs = dict(cs)
        cs.pop("histogram", None)
        if cs.get("ndv"):
            cs["ndv"] = max(1, min(int(cs["ndv"]), new_n))
        if c in rngs:
            cs["null_count"] = 0
            lo, hi = rngs[c]
            kind = _kind_of(cs.get("type", ""))
            if kind in ("numeric", "date", "timestamp", "timestamp_ntz"):

                def _clamped(cur, bound, keep_greater):
                    try:
                        a = _axis_value(cur, kind)
                        b = _axis_value(bound, kind)
                    except (ValueError, TypeError):
                        return cur
                    if b is None:
                        return cur
                    if a is None:
                        return bound
                    return bound if (b > a) == keep_greater else cur

                if lo is not None:
                    cs["min"] = _clamped(cs.get("min"), lo, True)
                if hi is not None:
                    cs["max"] = _clamped(cs.get("max"), hi, False)
        else:
            cs["null_count"] = int(round(cs.get("null_count", 0) * sel))
        out["columns"][c] = cs
    # Partner clamp (round 12): a grid pairing a FILTERED column with
    # an UNfiltered one localizes the survivors — the unfiltered
    # column's rows can only live in cells with surviving joint mass.
    # Record that support as `axis_range` (axis floats; `_range`
    # intersects it with min/max, so it only tightens the containment
    # refinement in estimate_join_rows — an event-time filter
    # shrinking a correlated join key's effective domain is exactly
    # the case). Conservative: a cell counts as surviving when the
    # filter overlaps it AT ALL (fractional overlap might miss rows
    # at the cell's unfiltered end); both-filtered pairs need no
    # clamp beyond their own predicates.
    for g in stats.get("column_groups", {}).values():
        h = g.get("hist2d")
        if not h:
            continue
        cx, cy = h["x"]["col"], h["y"]["col"]
        if (cx in rngs) == (cy in rngs):
            continue  # both filtered (covered) or neither: no clamp
        f_ax, o_ax = ("x", "y") if cx in rngs else ("y", "x")
        f_col = h[f_ax]["col"]
        o_col = h[o_ax]["col"]
        if o_col not in out["columns"]:
            continue
        b = h["buckets"]
        fr = _axis_overlaps(h[f_ax], *rngs[f_col], b)
        if fr is None:
            continue  # point range: the grid cannot localize it
        counts = h["counts"]
        support = []
        for o_i in range(b):
            mass = 0
            for f_i in range(b):
                if fr[f_i] > 0.0:
                    idx = (
                        f_i * b + o_i if f_ax == "x" else o_i * b + f_i
                    )
                    mass += counts[idx]
            if mass:
                support.append(o_i)
        if not support:
            continue  # filter kills everything: row_count already ~0
        alo, ahi = float(h[o_ax]["lo"]), float(h[o_ax]["hi"])
        width = (ahi - alo) / b
        new_lo = alo + support[0] * width
        new_hi = alo + (support[-1] + 1) * width
        cs = out["columns"][o_col]
        prev = cs.get("axis_range")
        if prev:
            new_lo, new_hi = max(new_lo, float(prev[0])), min(
                new_hi, float(prev[1])
            )
        cs["axis_range"] = [new_lo, new_hi]
    return out


# --- round 9: workload-driven group selection ------------------------------

#: attribute-eq-literal inside a Filter condition: `(name#123 = lit)`
#: or `(lit = name#123)` — the literal side carries no `#exprId`
_EQ_ATTR_LEFT = r"\(([A-Za-z_]\w*)#\d+L? = [^()#]+\)"
_EQ_ATTR_RIGHT = r"\([^()#]+ = ([A-Za-z_]\w*)#\d+L?\)"


def filter_eq_conjunctions(plan: str) -> list[list[str]]:
    """Equality-conjunction column sets, one per Filter node, from an
    optimized/analyzed logical plan string. Only attribute = literal
    comparisons count (joins and isnotnull guards are not correlation
    evidence); a node yields a set only when ≥2 distinct columns are
    conjoined — single-column filters are what per-column histograms
    already model. Filter nodes containing a disjunction are skipped
    outright (round-9 advisory): ``(a = 5) OR (b = 3)`` is not
    conjunction evidence, and voting it as one would recommend an
    ANALYZE pass for a column set the workload never conjoins —
    forgoing the rare mixed ``x AND (y OR z)`` vote is the cheap,
    never-wrong side of that trade."""
    import re

    out: list[list[str]] = []
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if not s.startswith("Filter ") or " OR " in s:
            continue
        cols = set(re.findall(_EQ_ATTR_LEFT, s)) | set(
            re.findall(_EQ_ATTR_RIGHT, s)
        )
        if len(cols) >= 2:
            out.append(sorted(cols))
    return out


#: attribute range comparison inside a Filter node: `(name#123 >= lit)`
#: (or >, <=, <) and the literal-first mirror — the X60 twin of the
#: equality patterns above
_RANGE_ATTR_LEFT = r"\(([A-Za-z_]\w*)#\d+L? (?:>=|<=|>|<) [^()#]+\)"
_RANGE_ATTR_RIGHT = r"\([^()#]+ (?:>=|<=|>|<) ([A-Za-z_]\w*)#\d+L?\)"


def filter_range_conjunctions(plan: str) -> list[list[str]]:
    """Range-conjunction column sets, one per Filter node — the X60
    twin of :func:`filter_eq_conjunctions`: only attribute-vs-literal
    range comparisons count, a node votes only when ≥2 distinct
    columns are range-bounded (single-column ranges are what 1-D
    histograms already model), and nodes containing a disjunction are
    skipped outright (the round-9 advisory's reasoning applies
    verbatim: an OR is not conjunction evidence)."""
    import re

    out: list[list[str]] = []
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if not s.startswith("Filter ") or " OR " in s:
            continue
        cols = set(re.findall(_RANGE_ATTR_LEFT, s)) | set(
            re.findall(_RANGE_ATTR_RIGHT, s)
        )
        if len(cols) >= 2:
            out.append(sorted(cols))
    return out


def filter_columns(plan: str) -> set[str]:
    """ALL attribute columns compared against literals (equality or
    range) in a plan's Filter nodes — the 1-D histogram candidates
    for `analyze_for_workload` (single-column filters count here:
    that is exactly what per-column histograms model). Disjunction
    nodes are skipped, consistent with the miners above."""
    import re

    out: set[str] = set()
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if not s.startswith("Filter ") or " OR " in s:
            continue
        for pat in (
            _EQ_ATTR_LEFT,
            _EQ_ATTR_RIGHT,
            _RANGE_ATTR_LEFT,
            _RANGE_ATTR_RIGHT,
        ):
            out |= set(re.findall(pat, s))
    return out


#: the four filter-comparison shapes again, but CAPTURING the attribute
#: id too — `name#id` binds a filtered column to the Relation node that
#: outputs it, which is what relation attribution needs
_ATTR_ID_PATS = (
    r"\(([A-Za-z_]\w*)#(\d+)L? = [^()#]+\)",
    r"\([^()#]+ = ([A-Za-z_]\w*)#(\d+)L?\)",
    r"\(([A-Za-z_]\w*)#(\d+)L? (?:>=|<=|>|<) [^()#]+\)",
    r"\([^()#]+ (?:>=|<=|>|<) ([A-Za-z_]\w*)#(\d+)L?\)",
)


def filter_columns_by_relation(
    plan: str,
) -> tuple[list[tuple[frozenset, set]], set[str]]:
    """:func:`filter_columns` with RELATION attribution (round-13
    advisor finding: a bare global name set makes a column name shared
    by several tables pay base-stats collection and a full histogram
    scan on every table containing it, though the workload only ever
    filtered one).

    Attribution rides the plan's own binding: a Filter's ``name#id``
    attribute is output by exactly one Relation node, whose bracket
    list carries the same ``name#id``. Returns ``(attributed,
    leftover)`` — ``attributed`` is one ``(frozenset(relation attr
    names), {filtered cols})`` entry per Relation that owns filtered
    attributes (the name set identifies the table by schema matching),
    ``leftover`` is filtered columns no parsed Relation claims
    (truncated attribute lists, exotic nodes) for which callers should
    keep the old every-table fallback rather than drop evidence."""
    import re

    filt: set[tuple[str, str]] = set()
    rels: list[set[tuple[str, str]]] = []
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if s.startswith("Filter ") and " OR " not in s:
            for pat in _ATTR_ID_PATS:
                filt |= set(re.findall(pat, s))
        elif s.startswith("Relation"):
            m = re.search(r"Relation\s*\[([^\]]*)\]", s)
            if m:
                rels.append(
                    set(re.findall(r"([A-Za-z_]\w*)#(\d+)", m.group(1)))
                )
    attributed: list[tuple[frozenset, set]] = []
    claimed: set[tuple[str, str]] = set()
    for attrs in rels:
        owned = filt & attrs
        if owned:
            attributed.append(
                (frozenset(n for n, _ in attrs), {n for n, _ in owned})
            )
            claimed |= owned
    leftover = {n for n, _ in filt - claimed}
    return attributed, leftover


def join_key_columns_by_relation(
    plan: str,
) -> tuple[list[tuple[frozenset, set]], set[str]]:
    """Equi-JOIN key columns mined from a plan's Join nodes, attributed
    to their relations via the same ``name#id`` binding
    :func:`filter_columns_by_relation` uses (round 14 — the
    heavy-hitter skew-evidence miner: join keys are where per-VALUE
    hot mass decides salting, and filters never mention them).
    Inner joins only — the skew dispatch is inner-only. Returns
    ``(attributed, leftover)`` with the same contract as the filter
    miner."""
    import re

    keys: set[tuple[str, str]] = set()
    rels: list[set[tuple[str, str]]] = []
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if s.startswith("Join Inner"):
            for pat in (
                r"\(([A-Za-z_]\w*)#(\d+)L? = [A-Za-z_]\w*#\d+L?\)",
                r"\([A-Za-z_]\w*#\d+L? = ([A-Za-z_]\w*)#(\d+)L?\)",
            ):
                keys |= set(re.findall(pat, s))
        elif s.startswith("Relation"):
            m = re.search(r"Relation\s*\[([^\]]*)\]", s)
            if m:
                rels.append(
                    set(re.findall(r"([A-Za-z_]\w*)#(\d+)", m.group(1)))
                )
    attributed: list[tuple[frozenset, set]] = []
    claimed: set[tuple[str, str]] = set()
    for attrs in rels:
        owned = keys & attrs
        if owned:
            attributed.append(
                (frozenset(n for n, _ in attrs), {n for n, _ in owned})
            )
            claimed |= owned
    leftover = {n for n, _ in keys - claimed}
    return attributed, leftover


def suggest_histogram_pairs(
    workload: list[Any],
    min_count: int = 2,
    max_pairs: int = 8,
) -> list[dict[str, Any]]:
    """X60 pair selection mined from the workload (the
    :func:`suggest_column_groups` doctrine applied to RANGE
    conjunctions): every Filter node range-bounding ≥2 columns votes
    for each PAIR of those columns (grids are 2-column by
    construction); pairs seen at least ``min_count`` times return
    most-frequent first, capped at ``max_pairs``. Feed the winners to
    :func:`collect_histogram_2d`."""
    from itertools import combinations

    votes: dict[tuple[str, str], int] = {}
    for item in workload:
        plan = (
            item
            if isinstance(item, str)
            else str(item._jdf.queryExecution().optimizedPlan())
        )
        for cols in filter_range_conjunctions(plan):
            for pair in combinations(cols, 2):
                votes[pair] = votes.get(pair, 0) + 1
    ranked = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        {"columns": list(pair), "count": n}
        for pair, n in ranked
        if n >= min_count
    ][:max_pairs]


def suggest_column_groups(
    workload: list[Any],
    min_count: int = 2,
    max_groups: int = 8,
) -> list[dict[str, Any]]:
    """X37 group selection mined from the workload instead of
    hand-picked (round 9): which column groups do the queries' WHERE
    clauses actually conjoin?

    ``workload`` is a list of DataFrames (their optimized plans are
    read — no execution) and/or plan STRINGS (an offline query log,
    e.g. the PLANS.md capture). Every Filter node contributing an
    equality conjunction over ≥2 columns votes for that column set;
    sets seen at least ``min_count`` times are returned most-frequent
    first, capped at ``max_groups`` (collecting every pair ever
    conjoined is the quadratic trap the X37 docstring warns about —
    the cap keeps the extra ANALYZE pass proportional to what the
    workload repeatedly does). Feed the winners to
    :func:`collect_column_group_stats`."""
    votes: dict[tuple[str, ...], int] = {}
    for item in workload:
        plan = (
            item
            if isinstance(item, str)
            else str(item._jdf.queryExecution().optimizedPlan())
        )
        for cols in filter_eq_conjunctions(plan):
            votes[tuple(cols)] = votes.get(tuple(cols), 0) + 1
    ranked = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        {"columns": list(cols), "count": n}
        for cols, n in ranked
        if n >= min_count
    ][:max_groups]
