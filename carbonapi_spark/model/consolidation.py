"""Graphite consolidation functions as Spark aggregate Column expressions.

Re-expresses the semantics of the reference's value folds
(``expr/consolidations/consolidations.go:132-290`` ``SummarizeValues`` and
the ``Agg*`` family at ``consolidations.go:293-440``) as JVM-side aggregate
expressions usable in ``groupBy(...).agg(...)`` — no Python UDFs, so the
whole fold stays inside whole-stage codegen / hash aggregation at 100 TB.

Graphite's NaN-skipping folds map onto SQL NULL-skipping aggregates; the
"all-NaN -> NaN" rule is SQL's "all-NULL -> NULL" for sum/max/min/avg and
is made explicit (``when(count > 0, ...)``) where SQL would return a
non-NULL zero (count) or needs ordering (first/last/diff/median).

All expressions are ANSI-mode safe (guarded divisions, ``try_element_at``).

Order-sensitive folds (first/last/diff) take an *order* column: for
cross-series aggregation it is the stable series rank, for time-bucket
summarization it is ``ts``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_PERCENTILE_RE = re.compile(r"^p([0-9]*[.])?[0-9]+$")

VALID_CONSOLIDATIONS = frozenset({
    "average", "avg", "avg_zero", "count", "diff", "max", "maximum", "median",
    "min", "minimum", "multiply", "range", "rangeOf", "sum", "total",
    "stddev", "first", "last", "current",
})


def is_valid_consolidation(name: str) -> bool:
    return name in VALID_CONSOLIDATIONS or bool(_PERCENTILE_RE.match(name))


# folds that skip NULL values: over a bucket they give the same result
# whether a gap is a NULL row or no row at all, so they may read a sparse
# frame. The others count the bucket's rows (avg_zero, multiply, first,
# last/current, diff), and with xFilesFactor > 0 every fold does.
_NULL_SKIPPING = frozenset({
    "sum", "total", "avg", "average", "max", "maximum", "min", "minimum",
    "count", "range", "rangeOf", "stddev", "median",
})


def skips_nulls(func: str, xff: float = 0.0) -> bool:
    """Whether fold *func* gated by *xff* may read a sparse frame; for any
    other fold the caller densifies first."""
    return not xff > 0 and (func in _NULL_SKIPPING
                            or bool(_PERCENTILE_RE.match(func)))


def _ordered_values(v: Column, order: Column) -> Column:
    """Non-NULL-preserving ordered value array for positional folds.

    collect_list keeps struct elements whose ``v`` field is NULL, so the
    bucket's full positional vector (Graphite's dense values[]) survives.
    """
    return F.transform(
        F.array_sort(F.collect_list(F.struct(order.alias("o"), v.alias("v")))),
        lambda s: s["v"],
    )


def agg_column(func: str, v: Column, order: Column, xff: float = 0.0) -> Column:
    """Aggregate Column computing Graphite consolidation *func* over a group.

    The group is "one output bucket": all series' values at one ts for
    cross-series aggregation, or one series' values in one time bucket for
    summarize/consolidation. ``count(*)`` within the group is the dense
    bucket size: callers densify first unless :func:`skips_nulls`.
    """
    nn = F.count(v)  # non-null count
    total = F.count(F.lit(1))  # bucket size incl. nulls

    if func in ("sum", "total"):
        out = F.sum(v)
    elif func in ("avg", "average"):
        out = F.avg(v)
    elif func == "avg_zero":
        # mean with NaN->0 but NaN if *all* NaN (consolidations.go:309-326)
        out = F.when(nn > 0, F.sum(F.coalesce(v, F.lit(0.0))) / total)
    elif func in ("max", "maximum"):
        out = F.max(v)
    elif func in ("min", "minimum"):
        out = F.min(v)
    elif func == "count":
        # all-NaN bucket -> NaN, not 0 (consolidations.go:407-421)
        out = F.when(nn > 0, nn.cast("double"))
    elif func in ("range", "rangeOf"):
        out = F.max(v) - F.min(v)
    elif func == "stddev":
        # population stddev (consolidations.go:69-89 VarianceValue)
        out = F.stddev_pop(v)
    elif func == "median":
        out = F.percentile(v, F.lit(0.5))
    elif func in ("last", "current"):
        # last non-NaN by order (consolidations.go:393-405)
        out = F.max_by(v, F.when(v.isNotNull(), order))
    elif func == "first":
        # positional first, but all-NaN -> NaN (consolidations.go:176-181,244-250)
        out = F.when(nn > 0, F.try_element_at(_ordered_values(v, order), F.lit(1)))
    elif func == "diff":
        # values[0] - sum(non-NaN rest); NaN when rest all-NaN
        # (consolidations.go:233-239)
        vals = _ordered_values(v, order)
        first = F.try_element_at(vals, F.lit(1))
        rest = F.filter(F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
                        lambda x: x.isNotNull())
        out = F.when(F.size(rest) > 0,
                     first - F.aggregate(rest, F.lit(0.0), lambda a, x: a + x))
    elif func == "multiply":
        # any NaN in bucket -> NaN (consolidations.go:222-232)
        prod = F.aggregate(F.collect_list(v), F.lit(1.0), lambda a, x: a * x)
        out = F.when(nn == total, prod)
    elif _PERCENTILE_RE.match(func):
        out = F.percentile(v, F.lit(float(func[1:]) / 100.0))
    else:
        raise ValueError(f"invalid consolidation function {func!r}")

    if xff and xff > 0:
        out = F.when(nn.cast("double") / total >= xff, out)
    return out


def percentile_column(v: Column, percent: float, interpolate: bool) -> Column:
    """Graphite Percentile (consolidations.go:92-130).

    interpolate=True is linear interpolation at rank k=(n-1)*p/100 — exactly
    Spark's ``percentile``. interpolate=False picks the element at
    ceil(k) (0-indexed) of the sorted non-null values.
    """
    if interpolate:
        return F.percentile(v, F.lit(percent / 100.0))
    vals = F.array_sort(F.collect_list(v))  # collect_list drops NULLs
    n = F.size(vals)
    k = F.ceil((n - 1).cast("double") * F.lit(percent) / 100.0).cast("int")
    return F.when(n > 0, F.try_element_at(vals, k + 1))
