"""Remaining operator families: name-surgery transforms, series-set joins,
map/reduce structural ops, meta setters, legend decorators (SURVEY §2.3/2.4/
2.6/2.9 tail)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import EvalError, eval_expr, static_step
from carbonapi_spark.functions import built_step, register
from carbonapi_spark.functions.helper import node_sql, nodes_sql, series_args, wrap_name
from carbonapi_spark.model.consolidation import is_valid_consolidation
from carbonapi_spark.model.series import (
    NAME, ORD, RUNNING, TS, VALUE, SeriesFrame, align, union,
)
from carbonapi_spark.sqltext import (
    expr_cached, local_df as _local_df, selectx, sql_all, sql_dlit, sql_lit,
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
    frame = eval_expr(ctx, exp.args[0], f, u)
    reset = eval_expr(ctx, exp.args[1], f, u)
    frame2, reset = (fr.densify() for fr in align([frame, reset]))
    r = selectx(reset.df, f"{TS} AS __rts", f"{VALUE} AS __rv")
    joined = frame2.df.join(r.hint("broadcast"), expr_cached(f"{TS} = __rts"), "left")
    is_reset = "CAST(coalesce(__rv != 0, false) AS INT)"
    epoch = f"sum({is_reset}) {RUNNING}"
    # the reset point itself outputs 0 and its value is discarded
    df = joined.withColumn(VALUE, expr_cached(
        f"CASE WHEN {is_reset} = 1 THEN 0.0D WHEN {VALUE} IS NOT NULL THEN "
        f"sum(CASE WHEN {is_reset} = 0 THEN {VALUE} END) OVER (PARTITION BY {ORD}, "
        f"{epoch} ORDER BY {TS} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END")
    ).drop("__rts", "__rv")
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
    frame = series_args(ctx, exp, f, u)
    vals = f"array_sort(collect_list(struct({ORD} AS o, {VALUE} AS v)))"
    folded = (f"aggregate(transform({vals}, s -> s.v), CAST(NULL AS DOUBLE), "
              f"(acc, x) -> CASE WHEN acc IS NULL THEN x ELSE power(acc, x) END)")
    name = sql_lit(f"powSeries({exp.arg_string})")
    df = (frame.df.groupBy(TS).agg(expr_cached(
        f"CAST(CASE WHEN abs({folded}) = {sql_dlit(float('inf'))} THEN NULL "
        f"ELSE {folded} END AS DOUBLE) AS {VALUE}"))
          .selectExpr(f"{name} AS {NAME}", f"{name} AS {ORD}", TS, VALUE))
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
        return fa.with_df(fa.df.join(names_b.hint("broadcast"), NAME, "left_semi"))
    if join_type == "SUB":
        return fa.with_df(fa.df.join(names_b.hint("broadcast"), NAME, "left_anti"))
    if join_type in ("OR", "XOR"):
        fa2, fb2 = align([fa, fb])
        if join_type == "XOR":
            fa2 = fa2.with_df(fa2.df.join(names_b.hint("broadcast"), NAME, "left_anti"))
        fb2 = fb2.with_df(fb2.df.join(names_a.hint("broadcast"), NAME, "left_anti"))
        return union([fa2, fb2])
    raise ValueError(f"join: unknown join type {join_type}")


@register("useSeriesAbove", step=built_step)
def use_series_above(ctx, exp, f, u):
    """for series with max > value, regex-rewrite the name and fetch that
    metric instead — rewrite/aboveSeries/function.go:33.

    All plain rewritten names go out as ONE brace-alternation fetch (a
    single IN-pushed scan) instead of a per-name driver fetch loop; only
    rewrites that themselves contain wildcards fetch separately."""
    import re as _re
    from carbonapi_spark.parser.globs import has_wildcard
    frame = eval_expr(ctx, exp.args[0], f, u)
    value = exp.get_float(1)
    search = exp.get_string(2)
    replace = exp.get_string(3)
    per = frame.df.groupBy(NAME).agg(expr_cached(f"max({VALUE}) AS __mx"))
    names = [r[NAME] for r in per.where(f"__mx > {sql_dlit(value)}")
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


def _sum_nn(cols: list[str]) -> str:
    return " + ".join(f"coalesce({c}, 0.0D)" for c in cols)


def _divide(c: list[str]) -> str:
    return f"CASE WHEN {c[1]} != 0 THEN {c[0]} / {c[1]} END"


def _diff(c: list[str]) -> str:
    return f"{c[0]} - ({_sum_nn(c[1:])})"


_REDUCERS = {
    "asPercent": lambda c: f"CASE WHEN {c[1]} != 0 THEN {c[0]} / {c[1]} * 100 END",
    "divide": _divide, "divideSeries": _divide,
    "diff": _diff, "diffSeries": _diff,
    "sum": _sum_nn, "sumSeries": _sum_nn,
}


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

    idx = str(node) if node >= 0 else f"{node} + size({nodes_sql()})"
    key = (f"array_join(transform({nodes_sql()}, (x, i) -> CASE WHEN i = {idx} "
           f"THEN {sql_lit(f'reduce.{fn_name}')} ELSE x END), '.')")
    tagged = (frame.df.withColumn("__key", F.expr(key))
              .withColumn("__m", F.expr(node_sql(node)))
              .where(f"__m IN ({', '.join(map(sql_lit, matchers))})"))
    # only groups holding every matcher participate (AliasLoop `continue`).
    # The frame is dense (every series carries every ts), so per-cell row
    # presence == series presence: a count alongside the value in the SAME
    # pivot distinguishes "matcher series absent" from "value is null",
    # with no separate distinct+join subplan re-evaluating the pipeline.
    pivoted = (tagged.groupBy("__key", TS)
               .pivot("__m", matchers)
               .agg(expr_cached(f"first({VALUE}) AS v"), expr_cached("count(1) AS n")))
    cols = {a: ["`" + f"{m}_{a}".replace("`", "``") + "`" for m in matchers] for a in "vn"}
    df = pivoted.where(sql_all(f"{c} > 0" for c in cols["n"])).selectExpr(
        f"__key AS {NAME}", f"__key AS {ORD}", TS,
        f"CAST({reducer(cols['v'])} AS DOUBLE) AS {VALUE}")
    return frame.with_df(df, dense=True)


# ------------------------------------------------------- legends

_SI = [(1e12, "T"), (1e9, "G"), (1e6, "M"), (1e3, "K")]


def _si_format(c: str) -> str:
    out = f"format_number({c}, 2)"
    for thresh, suffix in _SI:
        out = (f"CASE WHEN abs({c}) >= {sql_dlit(thresh)} THEN concat(CAST(round("
               f"{c} / {sql_dlit(thresh)}, 2) AS STRING), '{suffix}') ELSE {out} END")
    return f"CASE WHEN {c} IS NULL THEN 'nan' ELSE {out} END"


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
    per = frame.per_series(**{f"__lv{i}": vt for i, vt in enumerate(names)})
    suffix = "''"
    for i, vt in enumerate(names):
        c = f"__lv{i}"
        shown = _si_format(c) if system == "si" else \
            f"CASE WHEN {c} IS NULL THEN 'nan' ELSE CAST({c} AS STRING) END"
        suffix = f"concat({suffix}, {sql_lit(f' ({vt}: ')}, {shown}, ')')"
    df = (frame.df.join(per.hint("broadcast"), ORD)
          .withColumn(NAME, F.expr(f"concat({NAME}, {suffix})"))
          .drop(*[f"__lv{i}" for i in range(len(names))]))
    return frame.with_df(df)


@register("cactiStyle")
def cacti_style(ctx, exp, f, u):
    """Cacti-style 'Current/Max/Min' legend — cactiStyle/function.go:33."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    per = frame.per_series(__cur="current", __max="max", __min="min")
    shown = [f"CASE WHEN {c} IS NULL THEN 'nan' ELSE format_number({c}, 2) END"
             for c in ("__cur", "__max", "__min")]
    df = (frame.df.join(per.hint("broadcast"), ORD)
          .withColumn(NAME, expr_cached(
              f"concat({NAME}, ' Current:', {shown[0]}, ' Max:', {shown[1]}, "
              f"' Min:', {shown[2]})"))
          .drop("__cur", "__max", "__min"))
    return frame.with_df(df)


@register("heatMap")
def heat_map(ctx, exp, f, u):
    """pairwise diff of adjacent series (sorted by name)
    — heatMap/function.go:28."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    # ord becomes the series' position in list order
    tagged = frame.rank(frame.df.select(ORD).distinct()).df
    cur = selectx(tagged, f"CAST({ORD} AS BIGINT) AS __idx", ORD, NAME, TS,
                  f"{VALUE} AS __cv")
    prev = selectx(tagged, f"CAST({ORD} AS BIGINT) + 1 AS __idx", TS,
                   f"{VALUE} AS __pv", f"{NAME} AS __pn")
    df = selectx(cur.join(prev, ["__idx", TS]),
                 f"format_string('heatMap(%s,%s)', {NAME}, __pn) AS {NAME}", ORD, TS,
                 f"CAST(__cv - __pv AS DOUBLE) AS {VALUE}")
    return frame.with_df(df)
