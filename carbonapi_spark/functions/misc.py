"""Remaining operator families: name-surgery transforms, series-set joins,
map/reduce structural ops, meta setters, legend decorators (SURVEY §2.3/2.4/
2.6/2.9 tail)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from carbonapi_spark.sqltext import local_df as _local_df, sql_lit
from pyspark.sql.window import Window

from carbonapi_spark.evaluator import EvalError, eval_expr, static_step
from carbonapi_spark.functions import built_step, register
from carbonapi_spark.functions.helper import nodes_sql, series_args, wrap_name
from carbonapi_spark.model.consolidation import is_valid_consolidation
from carbonapi_spark.model.series import (
    NAME, ORD, TS, VALUE, SeriesFrame, align, union,
)



# ------------------------------------------------------- name surgery

@register("substr", "substring")
def substr(ctx, exp, f, u):
    """slice dot-nodes [start, stop) of the name — substr/function.go:31."""
    start = exp.get_int(1, 0)
    stop = exp.get_int(2, 0)
    frame = eval_expr(ctx, exp.args[0], f, u)

    parts = nodes_sql()
    cnt = f"size({parts})"
    s = f"{start} + CASE WHEN {start} < 0 THEN {cnt} ELSE 0 END"
    e_ = f"{stop} + CASE WHEN {stop} < 0 THEN {cnt} ELSE 0 END"
    e_ = f"CASE WHEN {stop} = 0 THEN {cnt} ELSE {e_} END"
    return frame.map_name(
        f"array_join(slice({parts}, ({s}) + 1, greatest(({e_}) - ({s}), 0)), '.')")


@register("toLowerCase", "lower")
def to_lower(ctx, exp, f, u):
    """lowercase the name — toLowerCase/function.go:30."""
    return eval_expr(ctx, exp.args[0], f, u).map_name("lower(name)")


@register("toUpperCase", "upper")
def to_upper(ctx, exp, f, u):
    """uppercase the name — toUpperCase/function.go:30."""
    return eval_expr(ctx, exp.args[0], f, u).map_name("upper(name)")


# ------------------------------------------------------- meta setters

@register("consolidateBy")
def consolidate_by(ctx, exp, f, u):
    """set the consolidation function used by maxDataPoints rollup
    — consolidateBy/function.go:41."""
    from dataclasses import replace
    func = exp.get_string(1)
    if not is_valid_consolidation(func):
        raise EvalError(f"consolidateBy: invalid consolidation function {func!r}")
    frame = eval_expr(ctx, exp.args[0], f, u)
    frame = replace(frame, consolidation=func)
    return wrap_name("consolidateBy", frame, f"'{func}'")


@register("setXFilesFactor", "xFilesFactor")
def set_xff(ctx, exp, f, u):
    """set xFilesFactor metadata — setXFilesFactor/function.go:30."""
    from dataclasses import replace
    xff = exp.get_float(1)
    frame = eval_expr(ctx, exp.args[0], f, u)
    return replace(frame, xff=xff)


@register("cumulative")
def cumulative(ctx, exp, f, u):
    """alias for consolidateBy(sl, 'sum') — cumulative/function.go:29."""
    from dataclasses import replace
    frame = eval_expr(ctx, exp.args[0], f, u)
    frame = replace(frame, consolidation="sum")
    return wrap_name("cumulative", frame)


# ------------------------------------------------------- integrals etc.

@register("integralWithReset")
def integral_with_reset(ctx, exp, f, u):
    """running sum that resets where the companion series is non-zero
    — integralWithReset/function.go:32."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u)
    reset = eval_expr(ctx, exp.args[1], f, u)
    frame2, reset = (fr.densify() for fr in align([frame, reset]))
    r = reset.df.select(F.col(TS).alias("__rts"), V.alias("__rv"))
    joined = frame2.df.join(F.broadcast(r), F.col(TS) == F.col("__rts"), "left")
    is_reset = F.coalesce(F.col("__rv") != 0, F.lit(False)).cast("int")
    w_ord = Window.partitionBy(ORD).orderBy(TS)
    epoch = F.sum(is_reset).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    w_epoch = Window.partitionBy(ORD, epoch).orderBy(TS) \
        .rowsBetween(Window.unboundedPreceding, 0)
    # the reset point itself outputs 0 and its value is discarded
    val = F.when(is_reset == 1, F.lit(0.0)) \
        .when(V.isNotNull(), F.sum(F.when(is_reset == 0, V)).over(w_epoch))
    df = joined.withColumn(VALUE, val).drop("__rts", "__rv")
    out = frame2.with_df(df)
    return out.map_name(f"format_string('integralWithReset(%s,%s)', name, "
                        f"{sql_lit(exp.args[1].to_string())})")


@register("verticalLine", step=lambda ctx, exp, f, u: 1)
def vertical_line(ctx, exp, f, u):
    """zero-length marker series at ts — verticalLine/function.go:35."""
    from carbonapi_spark.parser.dates import date_param_to_epoch
    ts_str = exp.get_string(0)
    label = exp.get_string(1, ts_str)
    ts = date_param_to_epoch(ts_str, u, ctx.tz, ctx.now)
    df = _local_df(ctx.spark, [(label, label, int(ts), 1.0)],
                                   "name STRING, ord STRING, ts BIGINT, value DOUBLE")
    return SeriesFrame(df, 1, ts, ts + 1, dense=True)


@register("powSeries")
def pow_series(ctx, exp, f, u):
    """left-fold pow across series per ts (±Inf -> NaN)
    — powSeries/function.go:31."""
    V = F.col(VALUE)
    frame = series_args(ctx, exp, f, u)
    vals = F.array_sort(F.collect_list(F.struct(F.col(ORD).alias("o"),
                                                V.alias("v"))))
    folded = F.aggregate(
        F.transform(vals, lambda s: s["v"]),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(F.pow(acc, x)))
    out = F.when(F.abs(folded) == float("inf"), None).otherwise(folded)
    name = f"powSeries({exp.arg_string})"
    df = (frame.df.groupBy(TS).agg(out.cast("double").alias(VALUE))
          .select(F.lit(name).alias(NAME), F.lit(name).alias(ORD),
                  F.col(TS), F.col(VALUE)))
    return frame.with_df(df)


# ------------------------------------------------------- set operations

def _join_step(ctx, exp, f, u) -> int:
    """AND/SUB keep the first list as it is; OR/XOR align both."""
    a = static_step(ctx, exp.args[0], f, u)
    if exp.get_string(2, "AND", names=("type",)).upper() in ("AND", "SUB"):
        return a
    b = static_step(ctx, exp.args[1], f, u)
    return a * b // math.gcd(a, b)


@register("join", step=_join_step)
def join_series(ctx, exp, f, u):
    """AND/OR/XOR/SUB of two seriesLists by name — join/function.go:78-173."""
    fa = eval_expr(ctx, exp.args[0], f, u)
    fb = eval_expr(ctx, exp.args[1], f, u)
    join_type = exp.get_string(2, "AND", names=("type",)).upper()
    names_a = fa.df.select(NAME).distinct()
    names_b = fb.df.select(NAME).distinct()
    if join_type == "AND":
        return fa.with_df(fa.df.join(F.broadcast(names_b), NAME, "left_semi"))
    if join_type == "SUB":
        return fa.with_df(fa.df.join(F.broadcast(names_b), NAME, "left_anti"))
    if join_type in ("OR", "XOR"):
        fa2, fb2 = align([fa, fb])
        if join_type == "XOR":
            fa2 = fa2.with_df(fa2.df.join(F.broadcast(names_b), NAME, "left_anti"))
        fb2 = fb2.with_df(fb2.df.join(F.broadcast(names_a), NAME, "left_anti"))
        return union([fa2, fb2])
    raise ValueError(f"join: unknown join type {join_type}")


@register("useSeriesAbove", step=built_step)
def use_series_above(ctx, exp, f, u):
    """for series with max > value, regex-rewrite the name and fetch that
    metric instead — rewrite/aboveSeries/function.go:33.

    All plain rewritten names go out as ONE brace-alternation fetch (a
    single IN-pushed scan) instead of a per-name driver fetch loop; only
    rewrites that themselves contain wildcards fetch separately."""
    V = F.col(VALUE)
    import re as _re
    from carbonapi_spark.parser.globs import has_wildcard
    frame = eval_expr(ctx, exp.args[0], f, u)
    value = exp.get_float(1)
    search = exp.get_string(2)
    replace = exp.get_string(3)
    per = frame.df.groupBy(NAME).agg(F.max(V).alias("__mx"))
    names = [r[NAME] for r in per.where(F.col("__mx") > value)
             .select(NAME).collect()]
    rewritten = sorted({_re.sub(search, replace, n) for n in names})
    plain = [n for n in rewritten if not has_wildcard(n)]
    frames = []
    if len(plain) > 1:
        frames.append(ctx.fetch("{" + ",".join(plain) + "}", f, u))
    elif plain:
        frames.append(ctx.fetch(plain[0], f, u))
    for n in rewritten:
        if has_wildcard(n):
            frames.append(ctx.fetch(n, f, u))
    frames = [fr for fr in frames if fr is not None]
    if not frames:
        return SeriesFrame.empty(ctx.spark, frame.step, frame.start, frame.stop)
    if len(frames) == 1:
        return frames[0]
    from carbonapi_spark.model.series import combine
    return combine(frames)


# ------------------------------------------------------- map / reduce

@register("mapSeries", "map")
def map_series(ctx, exp, f, u):
    """structural partition by node key; a no-op at the frame level — the
    grouping is re-derived by reduceSeries — mapSeries/function.go:30."""
    return eval_expr(ctx, exp.args[0], f, u)


_REDUCERS = {
    "asPercent": lambda cols: F.when(cols[1] != 0, cols[0] / cols[1] * 100),
    "divide": lambda cols: F.when(cols[1] != 0, cols[0] / cols[1]),
    "divideSeries": lambda cols: F.when(cols[1] != 0, cols[0] / cols[1]),
    "diff": lambda cols: cols[0] - sum_nn(cols[1:]),
    "diffSeries": lambda cols: cols[0] - sum_nn(cols[1:]),
    "sum": lambda cols: sum_nn(cols),
    "sumSeries": lambda cols: sum_nn(cols),
}


def sum_nn(cols):
    out = F.coalesce(cols[0], F.lit(0.0))
    for c in cols[1:]:
        out = out + F.coalesce(c, F.lit(0.0))
    return out


@register("reduceSeries", "reduce")
def reduce_series(ctx, exp, f, u):
    """reduceSeries(mapSeries(...), fn, reduceNode, *matchers): group series
    by the name with node[reduceNode] replaced by 'reduce.<fn>', pick the
    matcher series positionally, apply fn — reduce/function.go:32-120."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    fn_name = exp.get_string(1)
    node = exp.get_int(2)
    matchers = [exp.get_string(i) for i in range(3, len(exp.args))]
    reducer = _REDUCERS.get(fn_name)
    if reducer is None:
        raise ValueError(f"reduceSeries: unsupported function {fn_name!r}")

    base = F.split_part(F.col(NAME), F.lit(";"), F.lit(1))
    parts = F.split(base, "\\.")
    cnt = F.size(parts)
    idx = F.lit(node) + F.when(F.lit(node) < 0, cnt).otherwise(F.lit(0))
    matcher = F.try_element_at(parts, idx + 1)
    alias_name = F.array_join(
        F.transform(parts, lambda x, i: F.when(i == idx, F.lit(f"reduce.{fn_name}"))
                    .otherwise(x)), ".")

    tagged = (frame.df
              .withColumn("__key", alias_name)
              .withColumn("__m", matcher)
              .where(F.col("__m").isin(matchers)))
    # only groups holding every matcher participate (AliasLoop `continue`).
    # The frame is dense (every series carries every ts), so per-cell row
    # presence == series presence: a count alongside the value in the SAME
    # pivot distinguishes "matcher series absent" from "value is null",
    # with no separate distinct+join subplan re-evaluating the pipeline.
    pivoted = (tagged.groupBy("__key", TS)
               .pivot("__m", matchers)
               .agg(F.first(VALUE).alias("v"), F.count(F.lit(1)).alias("n")))
    present = [F.col(f"{m}_n") > 0 for m in matchers]
    for p in present[1:]:
        present[0] = present[0] & p
    pivoted = pivoted.where(present[0])
    cols = [F.col(f"{m}_v") for m in matchers]
    df = pivoted.select(F.col("__key").alias(NAME), F.col("__key").alias(ORD),
                        F.col(TS),
                        reducer(cols).cast("double").alias(VALUE))
    return frame.with_df(df, dense=True)


# ------------------------------------------------------- legends

_SI = [(1e12, "T"), (1e9, "G"), (1e6, "M"), (1e3, "K")]


def _si_format(col):
    out = F.format_number(col, 2)
    for thresh, suffix in _SI:
        out = F.when(F.abs(col) >= thresh,
                     F.concat(F.round(col / thresh, 2).cast("string"),
                              F.lit(suffix))).otherwise(out)
    return F.when(col.isNull(), F.lit("nan")).otherwise(out)


@register("legendValue")
def legend_value(ctx, exp, f, u):
    """append '(func: value)' stats to the legend name
    — legendValue/function.go:33."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    value_types = [exp.get_string(i) for i in range(1, len(exp.args))]
    system = ""
    if value_types and value_types[-1] in ("si", "binary"):
        system = value_types.pop()
    names = [vt for vt in value_types if is_valid_consolidation(vt)]
    if not names:
        return frame
    per = frame.per_series(**{f"__lv_{vt}": vt for vt in names})
    df = frame.df.join(F.broadcast(per), ORD)
    suffix = F.lit("")
    for vt in names:
        col = F.col(f"__lv_{vt}")
        shown = _si_format(col) if system == "si" else \
            F.when(col.isNull(), F.lit("nan")).otherwise(col.cast("string"))
        suffix = F.concat(suffix, F.lit(f" ({vt}: "), shown, F.lit(")"))
    df = df.withColumn(NAME, F.concat(F.col(NAME), suffix)) \
           .drop(*[f"__lv_{vt}" for vt in names])
    return frame.with_df(df)


@register("cactiStyle")
def cacti_style(ctx, exp, f, u):
    """Cacti-style 'Current/Max/Min' legend — cactiStyle/function.go:33."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    per = frame.per_series(__cur="current", __max="max", __min="min")
    df = frame.df.join(F.broadcast(per), ORD)
    fmt = lambda c: F.when(c.isNull(), F.lit("nan")).otherwise(  # noqa: E731
        F.format_number(c, 2))
    df = df.withColumn(NAME, F.concat(
        F.col(NAME),
        F.lit(" Current:"), fmt(F.col("__cur")),
        F.lit(" Max:"), fmt(F.col("__max")),
        F.lit(" Min:"), fmt(F.col("__min")))).drop("__cur", "__max", "__min")
    return frame.with_df(df)


@register("heatMap")
def heat_map(ctx, exp, f, u):
    """pairwise diff of adjacent series (sorted by name)
    — heatMap/function.go:28."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    # ord becomes the series' position in list order
    tagged = frame.rank(frame.df.select(ORD).distinct()).df
    idx = F.col(ORD).cast("long")
    cur = tagged.select(idx.alias("__idx"), F.col(ORD), F.col(NAME), F.col(TS),
                        V.alias("__cv"))
    prev = tagged.select((idx + 1).alias("__idx"), F.col(TS),
                         V.alias("__pv"), F.col(NAME).alias("__pn"))
    df = (cur.join(prev, ["__idx", TS])
          .select(F.format_string("heatMap(%s,%s)", F.col(NAME), F.col("__pn")).alias(NAME),
                  F.col(ORD), F.col(TS),
                  (F.col("__cv") - F.col("__pv")).cast("double").alias(VALUE)))
    return frame.with_df(df)
