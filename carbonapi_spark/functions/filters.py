"""Series-set filters (SURVEY §2.2): relational sigma over the series
dimension with per-series aggregate predicates.

Physical shape: the per-series table (:meth:`SeriesFrame.per_series`, one
hash aggregation, which also decides whether the fold reads the sparse or
the densified frame) is filtered, then semi-joined back onto the points by
broadcast (:meth:`SeriesFrame.keep`); no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.functions import register
from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions.helper import wrap_name
from carbonapi_spark.model.consolidation import consolidation_name, percentile_sql
from carbonapi_spark.model.series import NAME, ORD, VALUE, SeriesFrame
from carbonapi_spark.sqltext import sql_dlit, sql_lit

_OPS = frozenset({"=", "!=", ">", ">=", "<", "<="})


def _filter_by_agg(frame: SeriesFrame, func: str, op: str, threshold: float) -> SeriesFrame:
    if op not in _OPS:
        raise ValueError(f"unsupported operator {op!r}")
    per = frame.per_series(__agg=consolidation_name(func))
    return frame.keep(per.where(f"__agg {op} {sql_dlit(threshold)}"))


@register("filterSeries")
def filter_series(ctx, exp, f, u):
    """keep series where agg(values) <op> n — filter/function.go:39."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    func = exp.get_string(1)
    op = exp.get_string(2)
    threshold = exp.get_float(3)
    return _filter_by_agg(frame, func, op, threshold)


_SHORTCUTS = {
    "averageAbove": ("average", ">="), "averageBelow": ("average", "<="),
    "currentAbove": ("current", ">="), "currentBelow": ("current", "<="),
    "maximumAbove": ("max", ">"), "maximumBelow": ("max", "<"),
    "minimumAbove": ("min", ">"), "minimumBelow": ("min", "<"),
}


@register(*_SHORTCUTS.keys())
def above_below(ctx, exp, f, u):
    """fixed agg+op shortcuts of filterSeries — below/function.go:31
    (maximum/minimum use strict compare, average/current inclusive)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    n = exp.get_float(1)
    func, op = _SHORTCUTS[exp.target]
    return _filter_by_agg(frame, func, op, n)


@register("exclude")
def exclude(ctx, exp, f, u):
    """drop series whose name matches regex — exclude/function.go:30."""
    pattern = exp.get_string(1)
    frame = eval_expr(ctx, exp.args[0], f, u)
    return frame.with_df(frame.df.where(f"NOT {NAME} RLIKE {sql_lit(pattern)}"))


@register("grep")
def grep(ctx, exp, f, u):
    """keep series whose name matches regex — grep/function.go:30."""
    pattern = exp.get_string(1)
    frame = eval_expr(ctx, exp.args[0], f, u)
    return frame.with_df(frame.df.where(f"{NAME} RLIKE {sql_lit(pattern)}"))


@register("removeAboveValue", "removeBelowValue")
def remove_value(ctx, exp, f, u):
    """pointwise: value -> NaN beyond threshold — removeBelowSeries pkg."""
    op = "<=" if exp.target == "removeAboveValue" else ">="
    frame = eval_expr(ctx, exp.args[0], f, u)
    return wrap_name(exp.target, frame.map_value(
        f"CASE WHEN {VALUE} {op} {sql_dlit(exp.get_float(1))} THEN {VALUE} END"),
        exp.raw_arg(1))


@register("removeAbovePercentile", "removeBelowPercentile")
def remove_percentile(ctx, exp, f, u):
    """per-series percentile threshold then pointwise NaN."""
    op = "<=" if exp.target == "removeAbovePercentile" else ">="
    frame = eval_expr(ctx, exp.args[0], f, u)
    per = frame.per_series(
        __thr=f"CAST({percentile_sql(VALUE, exp.get_float(1), False)} AS DOUBLE)")
    df = (frame.df.join(per.hint("broadcast"), ORD)
          .withColumn(VALUE, F.expr(f"CASE WHEN {VALUE} {op} __thr THEN {VALUE} END")))
    return wrap_name(exp.target, frame.with_df(df.drop("__thr")), exp.raw_arg(1))


@register("removeEmptySeries")
def remove_empty_series(ctx, exp, f, u):
    """drop all-NaN series; with xff, drop series whose non-null ratio is
    below it — removeEmptySeries/function.go:31."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    xff = exp.get_float(1, 0.0, names=("xFilesFactor",))
    # count is NULL for a series with no value, or too few for xff
    per = frame.per_series(__nn="count", xff=max(xff, 0.0))
    return frame.keep(per.where("__nn IS NOT NULL"))


@register("removeZeroSeries")
def remove_zero_series(ctx, exp, f, u):
    """drop series whose every non-null value is 0 (carbonapi ext)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    per = frame.per_series(__nz=f"count(CASE WHEN {VALUE} != 0 THEN 1 END)")
    return frame.keep(per.where("__nz > 0"))


@register("averageOutsidePercentile")
def average_outside_percentile(ctx, exp, f, u):
    """keep series whose average falls outside the [100-n, n] percentile
    band of all the averages — averageOutsidePercentile/function.go:29."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    n = exp.get_float(1)
    lo_p, hi_p = min(n, 100 - n), max(n, 100 - n)
    per = frame.per_series(__avg="average")
    bounds = per.selectExpr(f"percentile(__avg, {sql_dlit(lo_p / 100)}, 1) AS __lo",
                            f"percentile(__avg, {sql_dlit(hi_p / 100)}, 1) AS __hi")
    return frame.keep(per.crossJoin(bounds.hint("broadcast"))
                      .where("__avg < __lo OR __avg > __hi"))


@register("tukeyAbove", "tukeyBelow")
def tukey(ctx, exp, f, u):
    """Tukey-fence outlier series by IQR rule — tukey/function.go:34."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    basis = consolidation_name(exp.get_string(1))
    n = sql_dlit(exp.get_float(2, 1.5))
    per = frame.per_series(__agg=basis)
    q = per.selectExpr("percentile(__agg, 0.25D, 1) AS __q1",
                       "percentile(__agg, 0.75D, 1) AS __q3")
    if exp.target == "tukeyAbove":
        cond = f"__agg >= __q3 + {n} * (__q3 - __q1)"
    else:
        cond = f"__agg <= __q1 - {n} * (__q3 - __q1)"
    return frame.keep(per.crossJoin(q.hint("broadcast")).where(cond))
