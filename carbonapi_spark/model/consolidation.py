"""Graphite consolidation functions as Spark SQL aggregate text.

Re-expresses the semantics of the reference's value folds
(``expr/consolidations/consolidations.go:132-290`` ``SummarizeValues`` and
the ``Agg*`` family at ``consolidations.go:293-440``) as JVM-side aggregate
expressions usable in ``groupBy(...).agg(...)`` — no Python UDFs, so the
whole fold stays inside whole-stage codegen / hash aggregation at 100 TB.

Each fold is SQL text (:func:`agg_sql`, :func:`percentile_sql`), parsed
where it is used; :func:`agg_column` parses an :func:`agg_sql` fold once
per distinct text.

Graphite's NaN-skipping folds map onto SQL NULL-skipping aggregates; the
"all-NaN -> NaN" rule is SQL's "all-NULL -> NULL" for sum/max/min/avg and
is made explicit (``CASE WHEN count > 0 ...``) where SQL would return a
non-NULL zero (count) or needs ordering (first/last/diff/median).

All expressions are ANSI-mode safe (guarded divisions, ``try_element_at``).

Order-sensitive folds (first/last/diff) take an *order* column: for
cross-series aggregation it is the stable series rank, for time-bucket
summarization it is ``ts``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from carbonapi_spark.sqltext import expr_cached, sql_dlit

_PERCENTILE_RE = re.compile(r"^p([0-9]*[.])?[0-9]+$")

VALID_CONSOLIDATIONS = frozenset({
    "average", "avg", "avg_zero", "count", "diff", "max", "maximum", "median",
    "min", "minimum", "multiply", "range", "rangeOf", "sum", "total",
    "stddev", "first", "last", "current",
})


def is_valid_consolidation(name: str) -> bool:
    return name in VALID_CONSOLIDATIONS or bool(_PERCENTILE_RE.match(name))


def consolidation_name(name: str) -> str:
    """*name*, a user-given fold name, if it is a consolidation function;
    ValueError otherwise (a per-series fold reads other text as SQL)."""
    if not is_valid_consolidation(name):
        raise ValueError(f"invalid consolidation function {name!r}")
    return name


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


def _ordered_values(v: str, order: str, over: str = "") -> str:
    """Non-NULL-preserving ordered value array for positional folds.

    collect_list keeps struct elements whose ``v`` field is NULL, so the
    bucket's full positional vector (Graphite's dense values[]) survives.
    """
    return (f"transform(array_sort(collect_list(struct({order} AS o, {v} AS v))"
            f"{over}), s -> s.v)")


def agg_sql(func: str, v: str = "value", order: str = "ts", xff: float = 0.0,
            over: str = "") -> str:
    """SQL text of the aggregate computing Graphite consolidation *func*
    over a group, of the value expression *v* ordered by *order*.

    The group is "one output bucket": all series' values at one ts for
    cross-series aggregation, or one series' values in one time bucket for
    summarize/consolidation. ``count(1)`` within the group is the dense
    bucket size: callers densify first unless :func:`skips_nulls`.
    *over* (`` OVER (...)``) turns every aggregate call in the text into a
    window function over that frame instead.
    """
    nn = f"count({v}){over}"  # non-null count
    total = f"count(1){over}"  # bucket size incl. nulls

    if func in ("sum", "total"):
        out = f"sum({v}){over}"
    elif func in ("avg", "average"):
        out = f"avg({v}){over}"
    elif func == "avg_zero":
        # mean with NaN->0 but NaN if *all* NaN (consolidations.go:309-326)
        out = f"CASE WHEN {nn} > 0 THEN sum(coalesce({v}, 0.0D)){over} / {total} END"
    elif func in ("max", "maximum"):
        out = f"max({v}){over}"
    elif func in ("min", "minimum"):
        out = f"min({v}){over}"
    elif func == "count":
        # all-NaN bucket -> NaN, not 0 (consolidations.go:407-421)
        out = f"CASE WHEN {nn} > 0 THEN CAST({nn} AS DOUBLE) END"
    elif func in ("range", "rangeOf"):
        out = f"max({v}){over} - min({v}){over}"
    elif func == "stddev":
        # population stddev (consolidations.go:69-89 VarianceValue)
        out = f"stddev_pop({v}){over}"
    elif func == "median":
        out = f"percentile({v}, 0.5D, 1){over}"
    elif func in ("last", "current"):
        # last non-NaN by order (consolidations.go:393-405)
        out = f"max_by({v}, CASE WHEN {v} IS NOT NULL THEN {order} END){over}"
    elif func == "first":
        # positional first, but all-NaN -> NaN (consolidations.go:176-181,244-250)
        out = (f"CASE WHEN {nn} > 0 THEN "
               f"try_element_at({_ordered_values(v, order, over)}, 1) END")
    elif func == "diff":
        # values[0] - sum(non-NaN rest); NaN when rest all-NaN
        # (consolidations.go:233-239)
        vals = _ordered_values(v, order, over)
        rest = (f"filter(slice({vals}, 2, greatest(size({vals}) - 1, 0)), "
                f"x -> x IS NOT NULL)")
        out = (f"CASE WHEN size({rest}) > 0 THEN try_element_at({vals}, 1)"
               f" - aggregate({rest}, 0.0D, (a, x) -> a + x) END")
    elif func == "multiply":
        # any NaN in bucket -> NaN (consolidations.go:222-232)
        out = (f"CASE WHEN {nn} = {total} THEN "
               f"aggregate(collect_list({v}){over}, 1.0D, (a, x) -> a * x) END")
    elif _PERCENTILE_RE.match(func):
        out = f"percentile({v}, {sql_dlit(float(func[1:]) / 100.0)}, 1){over}"
    else:
        raise ValueError(f"invalid consolidation function {func!r}")

    if xff and xff > 0:
        out = (f"CASE WHEN CAST({nn} AS DOUBLE) / {total} >= {sql_dlit(xff)} "
               f"THEN {out} END")
    return out


def agg_column(func: str, v: str = "value", order: str = "ts",
               xff: float = 0.0, alias: str | None = None) -> Column:
    """:func:`agg_sql` as a Column; with *alias*, cast to DOUBLE and
    named *alias*, the shape of every fold's output column. The text is
    cached unless an xFilesFactor, a request literal, is written into it."""
    sql = agg_sql(func, v, order, xff)
    if alias is not None:
        sql = f"CAST({sql} AS DOUBLE) AS {alias}"
    return (F.expr if xff and xff > 0 else expr_cached)(sql)


def percentile_sql(v: str, percent: float, interpolate: bool) -> str:
    """SQL text of Graphite Percentile (consolidations.go:92-130) of the
    value expression *v* over a group.

    interpolate=True is linear interpolation at rank k=(n-1)*p/100 — exactly
    Spark's ``percentile``. interpolate=False picks the element at
    ceil(k) (0-indexed) of the sorted non-null values.
    """
    if interpolate:
        return f"percentile({v}, {sql_dlit(percent / 100.0)}, 1)"
    vals = f"array_sort(collect_list({v}))"  # collect_list drops NULLs
    k = f"CAST(ceil(CAST(size({vals}) - 1 AS DOUBLE) * {sql_dlit(percent)} / 100.0D) AS INT)"
    return f"CASE WHEN size({vals}) > 0 THEN try_element_at({vals}, {k} + 1) END"
